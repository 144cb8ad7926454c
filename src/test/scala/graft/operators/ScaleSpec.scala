package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Bucketing

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 37}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .as[(String, Long, Double)].collect().toSet
    val salted = Skew.saltedAgg(df, Seq("k"), salts = 8, Seq(
      ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
      ("s", sum($"v"), (c: org.apache.spark.sql.Column) => sum(c))))
      .as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val big = (1 to 500).map(i => (s"k${i % 5}", i)).toDF("k", "i")
    val small = Seq(("k0", "a"), ("k1", "b"), ("k2", "c"), ("k3", "d"), ("k4", "e"))
      .toDF("k", "tag")
    val plain = big.join(small, "k").select("k", "i", "tag")
      .as[(String, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, "k", salts = 4).select("k", "i", "tag")
      .as[(String, Int, String)].collect().toSet
    assert(salted == plain)
  }

  test("salted aggregation survives a map-typed column (excluded from the salt hash)") {
    // xxhash64 cannot hash maps; the salt must skip such columns rather
    // than fail the whole frame's analysis
    val df = (1 to 200).map(i => (s"k${i % 3}", i.toDouble, Map("a" -> i)))
      .toDF("k", "v", "meta")
    val plain = df.groupBy("k").agg(sum($"v").as("s"))
      .as[(String, Double)].collect().toSet
    val salted = Skew.saltedAgg(df, Seq("k"), salts = 4,
      Seq(("s", sum($"v"), (c: org.apache.spark.sql.Column) => sum(c))))
      .as[(String, Double)].collect().toSet
    assert(salted == plain)
  }

  test("bucketed join plans without an exchange on the bucketed sides") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "va")
      val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("id", "vb")
      Bucketing.writeBucketed(a, "bucketed_a", "id", 4)
      Bucketing.writeBucketed(b, "bucketed_b", "id", 4)
      val joined = Bucketing.read(spark, "bucketed_a")
        .join(Bucketing.read(spark, "bucketed_b"), "id")
      assert(Bucketing.isExchangeFree(joined), joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 100)

      // control: the same join on raw (non-bucketed) frames DOES shuffle
      val control = a.join(b, "id")
      assert(!Bucketing.isExchangeFree(control))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("upsert against a bucketed existing side: one exchange only (incoming), same diff") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val base = (1 to 400).map(i => (i.toLong, (i % 7).toLong, s"v${i % 13}"))
        .toDF("k1", "k2", "v")
      val incoming = base.filter($"k1" % 3 =!= 0)
        .withColumn("v", when($"k1" % 5 === 0, concat($"v", lit("x"))).otherwise($"v"))
      val existing = base.filter($"k1" % 2 =!= 0)
      val staged = Upsert.stageBucketed(existing, "upsert_staged", Seq("k1", "k2"), 4)

      val plan = Upsert.classify(incoming, staged, Seq("k1", "k2"), nullSafeKeys = false)
        .queryExecution.executedPlan.toString
      // exactly ONE shuffle: the incoming delta; the bucketed existing
      // side must scan straight into the join
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)

      val bucketed = Upsert.kindCounts(incoming, staged, Seq("k1", "k2"), nullSafeKeys = false)
        .as[(String, Long)].collect().toSet
      val plain = Upsert.kindCounts(incoming, existing, Seq("k1", "k2"))
        .as[(String, Long)].collect().toSet
      assert(bucketed == plain)
      assert(bucketed.exists { case (k, n) => k == "append" && n > 0 })

      // merge's keep-anti-join gets the same fast path: one exchange,
      // bucketed scan, identical merged rows
      val mergePlan = Upsert.merge(incoming, staged, Seq("k1", "k2"),
        allowDelete = false, nullSafeKeys = false)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(mergePlan).size == 1, mergePlan)
      assert(mergePlan.contains("Bucketed: true"), mergePlan)
      val mergedB = Upsert.merge(incoming, staged, Seq("k1", "k2"),
        allowDelete = false, nullSafeKeys = false)
        .as[(Long, Long, String)].collect().toSet
      val mergedP = Upsert.merge(incoming, existing, Seq("k1", "k2"), allowDelete = false)
        .as[(Long, Long, String)].collect().toSet
      assert(mergedB == mergedP)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS upsert_staged")
    }
  }

  test("banded LSH: OR-construction recall + per-band bucket bounds on correlated vectors") {
    import graft.functions.VectorFunctions
    // adversarial corpus: dims 0-7 all positive (a single table hashing
    // them collapses to ONE bucket — the skew/recall cliff); dims 8-15
    // encode the id bits (spread). i and i+128 share all dims → true dups.
    val vecs = (0 until 256).map { i =>
      val base = i % 128
      (i.toLong, Array.tabulate(16) { d =>
        if (d < 8) 1.0f else if (((base >> (d - 8)) & 1) == 0) 1.0f else -1.0f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")

    // band 0 (dims 0-7) is degenerate: one bucket holds everything;
    // band 1 (dims 8-15) splits into 128 buckets of exactly 2
    val keyed = df.select($"vec_id",
      explode(VectorFunctions.bandedSignBuckets($"embedding", 2, 8)).as("bk"))
    val sizes = keyed.groupBy("bk").count()
      .select(shiftright($"bk", 32).cast("int").as("band"), $"count")
      .groupBy("band").agg(max("count").as("max_bucket"))
      .as[(Int, Long)].collect().toMap
    assert(sizes(0) == 256L) // the cliff a single table would hit
    assert(sizes(1) == 2L)   // banding bounds candidates per band

    // OR-construction recall: every true dup pair (i, i+128) survives
    val pairs = VectorFunctions.bandedNearDup(df, "vec_id", "embedding",
      bands = 2, bitsPerBand = 8, minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 128).foreach { i => assert(pairs.contains((i.toLong, (i + 128).toLong))) }
  }

  test("k-means IVF: learned centroids recover planted clusters, top-1 recall bound") {
    import graft.functions.VectorFunctions
    // 4 planted clusters on orthogonal axes + deterministic jitter; the
    // lowest-4-id seeds land one per cluster (ids 0-3 cycle through them)
    val n = 400
    val dim = 8
    val vecs = (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f // jitter << cluster separation
      })
    }
    val df = vecs.toDF("vec_id", "embedding")

    val cents = VectorFunctions.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 3)
    assert(cents.count() == 4)
    // every learned centroid is dominated by exactly one planted axis
    val cRows = cents.collect().map(_.getSeq[Double](1).toArray)
    val domAxes = cRows.map(c => c.indexOf(c.max) / 2).sorted
    assert(domAxes.toSeq == Seq(0, 1, 2, 3))

    // assignment is the planted partition (cluster sep >> jitter)
    val cells = VectorFunctions.kmeansAssign(df, "vec_id", "embedding", cents)
    val purity = cells.groupBy((col("vec_id") % 4).as("truth"), col("cid"))
      .count().groupBy("truth").count().as[(Long, Long)].collect()
    assert(purity.forall(_._2 == 1L), "each planted cluster maps to one learned cell")

    // top-1 IVF recall vs brute force: identical inside well-separated cells
    val ivf = VectorFunctions.kmeansIvfTopK(df, "vec_id", "embedding",
      col("vec_id") < 20, k = 1, clusters = 4, iters = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val brute = VectorFunctions.bruteForceTopK(
      df.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      "q_id", "c_id", "q_vec", "c_vec", k = 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val recall = brute.count { case (q, c) => ivf.get(q).contains(c) }.toDouble / brute.size
    assert(recall >= 0.95, s"IVF top-1 recall $recall below bound")
  }

  test("semanticDedup: min-id survivor per cell, occupancy cap keeps mega-cells") {
    import graft.functions.VectorFunctions
    // same planted-cluster fixture as the IVF test: within-cluster
    // cosine ≈ 0.999 (jitter << separation), cross-cluster ≈ 0
    val n = 400
    val dim = 8
    val vecs = (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    // every planted cluster collapses to its lowest-id member
    val kept = VectorFunctions.semanticDedup(df, "vec_id", "embedding",
      clusters = 4, iters = 3, tau = 0.99)
    val ids = kept.select("vec_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 3L), s"survivors: $ids")
    // deterministic across evaluations
    val again = VectorFunctions.semanticDedup(df, "vec_id", "embedding",
      clusters = 4, iters = 3, tau = 0.99).select("vec_id").as[Long].collect().toSet
    assert(again == ids)
    // occupancy cap: cells above maxCell skip pairwise pruning entirely
    val capped = VectorFunctions.semanticDedup(df, "vec_id", "embedding",
      clusters = 4, iters = 3, tau = 0.99, maxCell = 50)
    assert(capped.count() == n.toLong)
    // persisted-index path answers identically to train-per-call
    val idx = tmpDir("sem_idx")
    VectorFunctions.saveIvfIndex(df, "vec_id", "embedding", idx, clusters = 4, iters = 3)
    val fromIdx = VectorFunctions.semanticDedupFromIndex(idx, df, "vec_id", "embedding",
      tau = 0.99).select("vec_id").as[Long].collect().toSet
    assert(fromIdx == ids)
  }

  test("IVF persisted index: save + load answers identically to train-per-call") {
    import graft.functions.VectorFunctions
    val n = 400
    val dim = 8
    val vecs = (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val path = tmpDir("ivf-idx") + "/index"
    VectorFunctions.saveIvfIndex(df, "vec_id", "embedding", path, clusters = 4, iters = 3)
    // index tables persisted: centroids (k rows) + id→cell segments (no vectors)
    assert(spark.read.parquet(s"$path/centroids").count() == 4)
    val cells = VectorFunctions.ivfCells(spark, path)
    assert(cells.columns.toSet == Set("id", "cid") && cells.count() == n.toLong)

    val direct = VectorFunctions.kmeansIvfTopK(df, "vec_id", "embedding",
      col("vec_id") < 20, k = 3, clusters = 4, iters = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val fromIndex = VectorFunctions.ivfTopKFromIndex(path, df, "vec_id", "embedding",
      col("vec_id") < 20, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(fromIndex == direct, "persisted-index results must be bit-identical")
  }

  test("IVF incremental: merge chain equals fresh assignment under frozen centroids") {
    import graft.functions.{SegmentedIndex, VectorFunctions}
    val dim = 8
    def vec(i: Int, scale: Float = 1.0f) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      (base + ((i * 31 + d * 7) % 5) * 0.1f) * scale
    }
    // base corpus: ids with i % 3 != 0
    val base = (0 until 300).filter(_ % 3 != 0)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val path = tmpDir("ivf-inc") + "/index"
    VectorFunctions.saveIvfIndex(base, "vec_id", "embedding", path,
      clusters = 4, iters = 3)
    // delta: new ids (%3==0), re-ingest %10==5 with scaled vectors,
    // DELETE %100==97 via null vector
    val delta = (0 until 300)
      .filter(i => i % 3 == 0 || i % 10 == 5 || i % 100 == 97)
      .map { i =>
        val v = if (i % 100 == 97) null
                else if (i % 10 == 5) vec(i, 0.5f) else vec(i)
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
    VectorFunctions.mergeIvfDelta(delta, "vec_id", "embedding", path)
    // the latest-version corpus the merged index must describe
    val latest = (0 until 300).filter(_ % 100 != 97)
      .map(i => (i.toLong, if (i % 10 == 5) vec(i, 0.5f) else vec(i)))
      .toDF("vec_id", "embedding")
    val cents = spark.read.parquet(s"$path/centroids")
    val expect = VectorFunctions.kmeansAssign(latest, "vec_id", "embedding", cents)
      .select(col("vec_id").as("id"), col("cid"))
      .as[(Long, Int)].collect().toSet
    val live = VectorFunctions.ivfCells(spark, path).as[(Long, Int)].collect().toSet
    assert(live == expect, "merged live cells must equal a fresh frozen-centroid assignment")
    assert(!live.exists(_._1 == 97L), "deleted id must not be live")
    // drift trigger counts appended raw rows from footers only
    val frac = SegmentedIndex.deltaFraction(spark, path, "cells")
    assert(frac > 0.3 && frac < 0.5, s"delta fraction out of range: $frac")
    // retract a live id via the generic tombstone-only segment
    VectorFunctions.mergeIvfDelta(delta, "vec_id", "embedding", path) // idempotent re-merge
    SegmentedIndex.retract(spark, path, Seq(1L, 2L, 9999L).toDF("id"), Seq("cells"))
    val afterRetract = VectorFunctions.ivfCells(spark, path).as[(Long, Int)].collect().toSet
    assert(afterRetract == expect.filterNot(c => c._1 == 1L || c._1 == 2L))
    // compaction folds to one segment without changing answers
    VectorFunctions.compactIvfIndex(spark, path)
    assert(new java.io.File(s"$path/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq == Seq("00000"))
    val afterCompact = VectorFunctions.ivfCells(spark, path).as[(Long, Int)].collect().toSet
    assert(afterCompact == afterRetract)
    // queries answer from the segmented tree (vectors re-joined from latest)
    val topk = VectorFunctions.ivfTopKFromIndex(path, latest, "vec_id", "embedding",
      col("vec_id") < 8, k = 3)
    assert(topk.count() > 0)
  }

  test("IVF nprobe: probing a second cell recovers boundary-query neighbors") {
    import graft.functions.VectorFunctions
    // cells are L2 but ranking is cosine: plant 6 L2-clusters = 3
    // directions × 2 magnitudes. A query's cosine neighbors are ALL
    // same-direction vectors regardless of magnitude (cos ≈ 1), but
    // k-means separates the two magnitude shells into different cells —
    // and the query's second-nearest centroid is exactly the same-
    // direction/other-magnitude cell (L2 distance 1.0 vs ≥ 1.41 to any
    // other direction). Own-cell probing loses the other shell's
    // neighbors; nprobe=2 recovers them.
    val n = 300
    val dim = 8
    val vecs = (0 until n).map { i =>
      val dir = i % 3
      val mag = 1 + (i / 3) % 2
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == dir * 2) mag.toFloat else 0.0f
        // jitter ONLY the mag-1 shell: every mag-2 vector is the exact
        // axis direction, so a mag-1 query's best cosines are the pure
        // mag-2 vectors — which all live in the OTHER cell
        base + (if (mag == 1) (((i * 31 + d * 7) % 97) - 48) * 0.002f else 0.0f)
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    // mag-1 queries only (ids 0-2, 6-8 under the period-6 class layout)
    val queryFilter = col("vec_id") % 6 < 3 && col("vec_id") < 12
    def recallAt(nprobe: Int): Double = {
      val ivf = VectorFunctions.kmeansIvfTopK(df, "vec_id", "embedding",
        queryFilter, k = 3, clusters = 6, iters = 3, nprobe = nprobe)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      val brute = VectorFunctions.bruteForceTopK(
        df.filter(queryFilter).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        "q_id", "c_id", "q_vec", "c_vec", k = 3)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      (ivf intersect brute).size.toDouble / brute.size
    }
    val r1 = recallAt(1)
    val r2 = recallAt(2)
    assert(r1 < 1.0, s"overlap too weak: own-cell recall already $r1")
    assert(r2 > r1, s"nprobe=2 recall $r2 must beat own-cell $r1")
    assert(r2 >= 0.8, s"nprobe=2 recall $r2 below 0.8")
  }

  test("PQ: ADC shortlist + re-rank recovers exact neighbors on clustered data") {
    import graft.functions.VectorFunctions
    // same planted geometry as the k-means test: PQ should behave like a
    // real-embedding corpus here (near-perfect recall), unlike the
    // near-random harness embeddings where sim_pq_recall gates a
    // lower above-chance bar
    val n = 400
    val dim = 8
    val vecs = (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorFunctions.l2normalize(col("embedding")).as("embedding"))
    val q = df.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

    val books = VectorFunctions.pqCodebooks(df, "vec_id", "embedding",
      m = 4, dim = dim, ksub = 8, iters = 3)
    assert(books.count() == 4 * 8)

    // the fused multi-subspace trainer is row-for-row the per-subspace
    // Lloyd formulation it replaced (same seeds, distances, decimal
    // means, tie-breaks, empty-cluster carry-forward)
    val perSub = (0 until 4).map { sub =>
      val subDf = df.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), sub * (dim / 4) + 1, dim / 4).as("__sv"))
      VectorFunctions.kmeansCentroids(subDf, "vec_id", "__sv", 8, 3)
        .withColumn("sub", lit(sub)).select(col("sub"), col("cid"), col("centroid"))
    }.reduce(_ unionByName _)
      .as[(Int, Int, Seq[Double])].collect().toSet
    val fused = books.as[(Int, Int, Seq[Double])].collect().toSet
    assert(fused == perSub, "fused PQ trainer diverged from the per-subspace formulation")

    // codes are deterministic: re-encoding yields the identical table
    val codes1 = graft.plans.CentroidExpressionsSpec.pqEncode(df, "vec_id", "embedding", books, 4, dim)
    val codes2 = graft.plans.CentroidExpressionsSpec.pqEncode(df, "vec_id", "embedding", books, 4, dim)
    assert(codes1.except(codes2).isEmpty && codes2.except(codes1).isEmpty)
    assert(codes1.count() == n * 4L)

    val pq = VectorFunctions.pqTopK(q, c, "q_id", "c_id", "q_vec", "c_vec",
      books, m = 4, dim = dim, k = 5, shortlist = 40)
    val brute = VectorFunctions.bruteForceTopK(q, c, "q_id", "c_id",
      "q_vec", "c_vec", k = 5)
    val pqSet = pq.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val bruteSet = brute.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (pqSet intersect bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.9, s"PQ recall $recall below 0.9 on clustered data")

    // the persisted index is a cache of deterministic computation:
    // answering from stored codes must be bit-identical to train-per-call
    val idx = tmpDir("pqidx")
    VectorFunctions.savePqIndex(df, "vec_id", "embedding", idx,
      m = 4, dim = dim, ksub = 8, iters = 3)
    val fromIdx = VectorFunctions.pqTopKFromIndex(idx, df, "vec_id", "embedding",
      col("vec_id") < 8, m = 4, dim = dim, k = 5, shortlist = 40)
    val a = pq.select("q_id", "c_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val b = fromIdx.select("q_id", "c_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    if (a != b) {
      // tied duplicates (ids 20 apart are the same vector) can only rank
      // differently if the index's ADC shortlist lost some of them, so
      // report what the index stores for the ids that diverge
      val ids = (a.diff(b) ++ b.diff(a)).map(_._2).toSeq.sorted
      def codesOf(rows: org.apache.spark.sql.DataFrame) = rows.filter(col("id").isin(ids: _*))
        .as[(Long, Seq[Int])].collect().sortBy(_._1)
        .map { case (id, cs) => s"$id:${cs.mkString(",")}" }.mkString(" ")
      val stored = VectorFunctions.pqCodes(spark, idx)
      val storedBooks = spark.read.parquet(s"$idx/codebooks")
        .as[(Int, Int, Seq[Double])].collect().toSet
      val fresh = VectorFunctions.pqEncodePacked(df, "vec_id", "embedding", books, 4, dim)
        .select(col("vec_id").as("id"), col("codes"))
      fail(s"persisted-PQ answers diverge from train-per-call: ${a.diff(b)} vs ${b.diff(a)}; " +
        s"live code rows ${stored.count()} (expect $n), stored codebooks == books: " +
        s"${storedBooks == fused}, stored codes [${codesOf(stored)}], " +
        s"fresh codes [${codesOf(fresh)}]")
    }
  }

  test("PQ incremental: merge chain equals frozen-codebook re-encode; retract + compact") {
    import graft.functions.{SegmentedIndex, VectorFunctions}
    val dim = 16
    def vec(i: Int, bump: Float = 0.0f) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 4) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f + (if (d == 0) bump else 0.0f)
    }
    val base = (0 until 240).filter(_ % 3 != 0)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val idx = tmpDir("pqinc")
    VectorFunctions.savePqIndex(base, "vec_id", "embedding", idx,
      m = 4, dim = dim, ksub = 8, iters = 3)
    // delta: new ids (%3==0), re-ingest %10==5 with a bumped dim-0
    // (codes may change subspace 0), DELETE %100==97
    val delta = (0 until 240)
      .filter(i => i % 3 == 0 || i % 10 == 5 || i % 100 == 97)
      .map { i =>
        val v = if (i % 100 == 97) null
                else if (i % 10 == 5) vec(i, 3.0f) else vec(i)
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
    VectorFunctions.mergePqDelta(delta, "vec_id", "embedding", idx,
      m = 4, dim = dim)
    val latest = (0 until 240).filter(_ % 100 != 97)
      .map(i => (i.toLong, if (i % 10 == 5) vec(i, 3.0f) else vec(i)))
      .toDF("vec_id", "embedding")
    val books = spark.read.parquet(s"$idx/codebooks")
    val expect = VectorFunctions
      .pqEncodePacked(latest, "vec_id", "embedding", books, 4, dim)
      .select(col("vec_id").as("id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toSet
    val live = VectorFunctions.pqCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().toSet
    assert(live == expect,
      "merged live codes must equal a frozen-codebook re-encode of the latest corpus")
    assert(!live.exists(_._1 == 97L))
    val frac = SegmentedIndex.deltaFraction(spark, idx, "codes")
    assert(frac > 0.3 && frac < 0.5, s"delta fraction out of range: $frac")
    // retraction drops ids from the shortlist source; compaction folds
    SegmentedIndex.retract(spark, idx, Seq(4L, 8L).toDF("id"), Seq("codes"))
    VectorFunctions.compactPqIndex(spark, idx)
    assert(new java.io.File(s"$idx/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq == Seq("00000"))
    val after = VectorFunctions.pqCodes(spark, idx).as[(Long, Seq[Int])].collect().toSet
    assert(after == expect.filterNot(c => c._1 == 4L || c._1 == 8L))
    // search answers from the compacted tree and never surfaces retracted ids
    val topk = VectorFunctions.pqTopKFromIndex(idx, latest, "vec_id", "embedding",
      col("vec_id") < 8, m = 4, dim = dim, k = 5, shortlist = 40)
      .select("c_id").as[Long].collect().toSet
    assert(!topk.contains(4L) && !topk.contains(8L))
  }

  test("IVF-PQ: residual codes recover planted-cluster neighbors; merge == frozen re-encode") {
    import graft.functions.{SegmentedIndex, VectorFunctions}
    val dim = 16
    def vec(i: Int) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 4) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val base = (0 until 240).filter(_ % 3 != 0)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val idx = tmpDir("ivfpq")
    VectorFunctions.saveIvfPqIndex(base, "vec_id", "embedding", idx,
      clusters = 4, citers = 3, m = 4, dim = dim, ksub = 8, piters = 3)
    // planted clusters + nprobe=1: IVFADC must recover in-cell exact
    // neighbors at high recall (residual codes are accurate near 0)
    val exact = VectorFunctions.bruteForceTopK(
        base.filter(col("vec_id") < 8).selectExpr("vec_id AS q_id", "embedding AS q_vec"),
        base.selectExpr("vec_id AS c_id", "embedding AS c_vec"),
        "q_id", "c_id", "q_vec", "c_vec", k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivfpq = VectorFunctions.ivfPqTopKFromIndex(idx, base, "vec_id", "embedding",
        col("vec_id") < 8, m = 4, dim = dim, k = 5, shortlist = 40, nprobe = 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (ivfpq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-PQ recall $recall below 0.9 on clustered data")

    // merge: delta assigns to frozen centroids, encodes frozen books;
    // live rows == one fresh frozen-parameter pass over latest corpus
    val delta = (0 until 240)
      .filter(i => i % 3 == 0 || i % 100 == 97)
      .map(i => (i.toLong, if (i % 100 == 97) null else vec(i)))
      .toDF("vec_id", "embedding")
    VectorFunctions.mergeIvfPqDelta(delta, "vec_id", "embedding", idx,
      m = 4, dim = dim)
    val latest = (0 until 240).filter(_ % 100 != 97)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val freshIdx = tmpDir("ivfpq-fresh")
    // fresh pass under the SAME frozen parameters: copy centroids +
    // codebooks, re-encode everything
    val cents = spark.read.parquet(s"$idx/centroids")
    val books = spark.read.parquet(s"$idx/codebooks")
    val expect = VectorFunctions.pqEncodePacked(
        VectorFunctions.kmeansAssign(latest, "vec_id", "embedding", cents)
          .join(broadcast(cents), Seq("cid"))
          .withColumn("__res", zip_with(col("embedding").cast("array<double>"),
            col("centroid"), (a, b) => a - b))
          .select(col("vec_id"), col("cid").as("cell"), col("__res")),
        "vec_id", "__res", books, 4, dim)
      .as[(Long, Seq[Int])].collect().toSet
    val live = SegmentedIndex.liveRows(spark, idx, "codes")
      .select("id", "codes").as[(Long, Seq[Int])].collect().toSet
    assert(live == expect, "merged live codes must equal a frozen-parameter re-encode")
    assert(!live.exists(_._1 == 97L), "null-vector delete must be dead")
    // retraction + compaction through the generic machinery
    SegmentedIndex.retract(spark, idx, Seq(4L).toDF("id"), Seq("codes"))
    SegmentedIndex.compactIndex(spark, idx, "codes")
    val topk = VectorFunctions.ivfPqTopKFromIndex(idx, latest, "vec_id", "embedding",
        col("vec_id") < 8, m = 4, dim = dim, k = 5, shortlist = 40, nprobe = 1)
      .select("c_id").as[Long].collect().toSet
    assert(!topk.contains(4L), "retracted id must not surface in search")
  }

  test("CC mega-cluster: star rounds window-free, hub never lands on one task") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // zipf shape of web-scale dedup graphs: ONE component holds 60% of the
    // edges (hub 0 → 1..12000) over a uniform background of disjoint pairs
    val hubSize = 12000
    val hub = (1 to hubSize).map(i => (0L, i.toLong))
    val background = (20000 until 36000 by 2).map(i => (i.toLong, (i + 1).toLong))
    val edges = (hub ++ background).toDF("a", "b").repartition(8)

    // plan shape: both half-rounds are groupBy-min + join-back — window
    // aggregates cannot partial-aggregate and AQE skew splitting does not
    // apply to window partitions, so any WindowExec here is a regression
    val e0 = edges.select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
    for (step <- Seq(ConnectedComponents.largeStar(e0), ConnectedComponents.smallStar(e0))) {
      val plan = step.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"CC half-round plans a window sort:\n$plan")
    }

    // simulate the 100 TB shape: mins side too big to broadcast, and
    // advisory partition sizes small enough that AQE does not coalesce
    // the toy shuffles into single partitions (which it would never do
    // at real scale)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val taskRows = new scala.collection.concurrent.TrieMap[Long, (Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          taskRows.put(t.taskInfo.taskId, (t.stageId, m.shuffleReadMetrics.recordsRead))
      }
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    val labels =
      try {
        // hotThreshold lowered so the 12k-edge hub counts as hot at toy
        // scale (production default is 100k neighbors)
        val got = ConnectedComponents.assign(edges, "a", "b", hotThreshold = 1000L)
          .as[(Long, Long)].collect()
        // listener delivery is async; give the bus a beat to drain
        var waited = 0
        while (taskRows.isEmpty && waited < 50) { Thread.sleep(100); waited += 1 }
        Thread.sleep(300)
        got
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }

    // correctness first: hub component labels to 0, background pairs to
    // their even endpoint
    val byId = labels.toMap
    assert((0 to hubSize).forall(i => byId(i.toLong) == 0L))
    assert((20000 until 36000 by 2).forall(i =>
      byId(i.toLong) == i.toLong && byId((i + 1).toLong) == i.toLong))

    // straggler bound, per stage (a global mean would be dragged down by
    // the one-row checksum stages): in every shuffle-read stage that
    // moved real data, no task may read the whole hub or >2x the stage
    // mean — the salted join-back is what spreads the hub's edge rows
    val byStage = taskRows.values.groupBy(_._1)
      .map { case (st, ts) => st -> ts.map(_._2).toSeq }
      .filter { case (_, rows) => rows.size >= 2 && rows.sum > 2000 }
    assert(byStage.nonEmpty, s"listener captured no multi-task data stages: $taskRows")
    byStage.foreach { case (stage, rows) =>
      val mean = rows.sum.toDouble / rows.size
      val max = rows.max
      assert(max <= 2.0 * mean,
        s"stage $stage: max task rows $max exceeds 2x mean $mean (rows: ${rows.sorted.reverse})")
    }
  }

  test("zipf mega-cluster: band joins stay bounded under skew (bucket cap + star edges)") {
    import graft.functions.{DedupFunctions, VectorFunctions}
    // the web-corpus shape: ONE near-dup cluster dominates. 4000 docs
    // share a token set (→ identical signatures → one bucket per band)
    // over 2000 distinct background docs with one planted dup pair.
    val megaToks = Seq("the", "quick", "brown", "fox", "jumps")
    val mega = (0L until 4000L).map(i => (i, megaToks))
    val background = (10000L until 12000L).map(i => (i, Seq(s"tok$i", s"t${i}b", s"u$i")))
    val planted = Seq((20000L, Seq("dup", "pair", "xyz")), (20001L, Seq("dup", "pair", "xyz")))
    val docs = (mega ++ background ++ planted).toDF("doc_id", "toks")

    // star edges: LINEAR in cluster size (≤ docs × bands), window-free
    // plan, and the mega cluster still comes out as one component
    val star = DedupFunctions.lshBucketStarEdges(docs, "doc_id", col("toks"), k = 8, bands = 2)
    assert(!star.queryExecution.executedPlan.toString.contains("Window"),
      "star edges must not plan a window sort")
    val starCount = star.count()
    assert(starCount <= 6002L * 2, s"star edges not linear: $starCount")
    val comp = ConnectedComponents.clusters(docs.select("doc_id"), "doc_id",
      star, "id_a", "id_b")
    assert(comp.filter(col("cluster_id") === 0L).count() == 4000L,
      "mega cluster must resolve to one component")

    // pairwise candidates WITH the bucket cap: the 4000-member bucket
    // (> maxBucket) is pruned — 4000²/2 = 8M pairs never materialize —
    // while the planted small dup pair is still found
    val pairs = DedupFunctions.lshCandidatePairs(docs, "doc_id", col("toks"),
      k = 8, bands = 2, maxBucket = 1000)
    val nPairs = pairs.count()
    assert(nPairs < 50000L, s"candidate blow-up under skew: $nPairs pairs")
    assert(pairs.filter(col("id_a") === 20000L && col("id_b") === 20001L).count() == 1L)
    assert(pairs.filter(col("id_a") < 4000L && col("id_b") < 4000L).count() == 0L,
      "mega-bucket pairs must be pruned from the pairwise path")

    // embedding band join with the cap: 3000 identical vectors in one
    // bucket are pruned; exact dup pairs in the spread background
    // (same low-8 id bits → same vector) still surface
    val vecs = (0L until 3000L).map(i => (i, Array.fill(16)(1.0f))) ++
      (3000L until 4000L).map { i =>
        (i, Array.tabulate(16)(d => if (((i >> (d % 8)) & 1L) == 0L) 1.0f else -1.0f))
      }
    val vdf = vecs.toDF("vec_id", "embedding")
    val nd = VectorFunctions.bandedNearDup(vdf, "vec_id", "embedding",
      bands = 2, bitsPerBand = 8, minCos = 0.999, maxBucket = 500)
    val ndPairs = nd.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ndPairs.nonEmpty && ndPairs.forall { case (a, b) => a >= 3000L && b >= 3000L },
      s"mega-bucket embedding pairs must be pruned (got ${ndPairs.size})")
    assert(ndPairs.contains((3000L, 3256L)), "background exact dups must survive the cap")
  }

  test("runtime bloom-filter injection fires on a selective shuffle join") {
    import spark.implicits._
    val dir = tmpDir("rtf")
    (0L until 20000L).map(i => (i, s"p$i")).toDF("fk", "payload")
      .write.mode("overwrite").parquet(s"$dir/facts")
    (0L until 2000L).map(i => (i, i % 7)).toDF("pk", "grp")
      .write.mode("overwrite").parquet(s"$dir/dims")
    // GraftSession enables the feature; the size thresholds are tuned
    // for 100 TB inputs, so shrink them to let the toy tables qualify
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // force a shuffle join: broadcast would bypass runtime filtering
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = prev.map { case (k, _) => k -> spark.conf.getOption(k) }
    prev.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val facts = spark.read.parquet(s"$dir/facts")
      val dims = spark.read.parquet(s"$dir/dims").filter(col("grp") === 3)
      val joined = facts.join(dims, col("fk") === col("pk"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_agg") ||
        optimized.contains("BloomFilterMightContain") ||
        optimized.toLowerCase.contains("mightcontain"),
        s"no runtime bloom filter injected:\n$optimized")
      // and the filtered plan still returns the right rows
      assert(joined.count() == dims.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("int8 ANN: quantized shortlist + exact re-rank tracks brute force") {
    import graft.functions.VectorFunctions
    // planted-cluster geometry (same as the k-means/PQ specs): real
    // embedding corpora have separated neighborhoods, where int8's
    // ~1/127-per-dim rounding noise cannot reorder the shortlist; on
    // NEAR-UNIFORM directions top-k margins are ~1e-3 and ANY
    // quantizer scrambles them (the sim_int8_topk oracle still pins
    // that case exactly, noise and all)
    val n = 400
    val dim = 8
    val vecs = (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(dim) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.35f
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 24)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val int8 = VectorFunctions.int8TopK(q, c, "q_id", "c_id", "q_vec", "c_vec",
        k = 3, shortlist = 12)
      .select("q_id", "c_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect()
    val brute = VectorFunctions.bruteForceTopK(q, c, "q_id", "c_id",
        "q_vec", "c_vec", k = 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // scores on returned rows are the EXACT cosine (re-rank contract)
    val vecMap = vecs.toMap
    int8.foreach { case (qi, ci, score, _) =>
      val (a, b) = (vecMap(qi), vecMap(ci))
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val exact = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(math.abs(score - exact) < 1e-9, s"($qi,$ci)")
    }
    val recall = int8.count { case (qi, ci, _, _) => brute.contains((qi, ci)) }
      .toDouble / brute.size
    assert(recall >= 0.9, s"int8 top-3 recall $recall below bound")
  }

  test("int8 index lifecycle: merge chain serves per-call ranking; retract and compact") {
    import graft.functions.{SegmentedIndex, VectorFunctions}
    val n = 200
    val dim = 8
    def vec(i: Int) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.35f
    }
    val all = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val idx = tmpDir("int8idx") + "/idx"
    VectorFunctions.saveInt8Index(all.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", idx)
    // delta: the %3 slice + a deletion (id 9) — quantization is
    // per-row, so the merged index must serve exactly the per-call
    // ranking over the latest corpus
    val delta = all.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"),
        when(col("vec_id") === 9L, lit(null).cast("array<double>"))
          .otherwise(col("embedding").cast("array<double>")).as("embedding"))
    VectorFunctions.mergeInt8Delta(delta, "vec_id", "embedding", idx)
    val latest = all.filter(col("vec_id") =!= 9L)
    def probe() = VectorFunctions.int8TopKFromIndex(idx, latest,
        "vec_id", "embedding", col("vec_id") < 8, k = 3, shortlist = 12)
      .as[(Long, Long, Double, Long)].collect().toSet
    val perCall = VectorFunctions.int8TopK(
        latest.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        latest.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        "q_id", "c_id", "q_vec", "c_vec", k = 3, shortlist = 12)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(probe() == perCall)
    // retract a live id: it leaves the search results
    VectorFunctions.mergeInt8Delta(
      Seq((12L, null: Array[Float])).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx)
    assert(!VectorFunctions.int8Codes(spark, idx)
      .filter(col("id") === 12L).head(1).nonEmpty)
    // compaction folds to one segment, answers unchanged
    SegmentedIndex.compactIndex(spark, idx, "codes8")
    assert(SegmentedIndex.segmentDirs(spark, idx).map(_._1) == Seq(0))
    assert(!VectorFunctions.int8Codes(spark, idx)
      .filter(col("id") === 12L).head(1).nonEmpty)
  }
}
