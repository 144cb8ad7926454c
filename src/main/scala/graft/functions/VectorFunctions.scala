package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding / similarity-search primitives over `array<float>` columns.
  *
  * Numeric discipline: every fold is a *sequential left-to-right*
  * `aggregate` over the array in DOUBLE, so results are bit-reproducible
  * across engines that fold the same way (the DuckDB oracles use the
  * same element order). No UDFs — all Catalyst expressions.
  *
  * Scale path: brute-force top-k is O(n·m) dot products but shuffle-free
  * when the query side is broadcast; the LSH/IVF variant buckets vectors
  * by sign-pattern so the join is an equi-join on the bucket key.
  */
object VectorFunctions {

  /** Sequential-fold dot product; native codegen'd expression
    * (graft.plans.DotProduct) — bit-identical to the HOF form
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` but ~100× faster per pair
    * (HOFs are interpreted per element).
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm inputs yield NaN (IEEE) instead of an ANSI
    * divide-by-zero error — zero vectors DO occur in real corpora.
    */
  private def safeRatio(num: Column, denom: Column): Column =
    when(denom === 0.0, lit(Double.NaN)).otherwise(num / denom)

  def cosine(a: Column, b: Column): Column =
    safeRatio(dot(a, b), norm(a) * norm(b))

  /** Hybrid-retrieval re-rank: a lexical shortlist (query_id, doc_id —
    * e.g. BM25 top-k' from the inverted index) re-scored by embedding
    * cosine against each query's anchor vector, bounded top-k out.
    *
    * Plan shape for 100 TB: the shortlist is driver-small by
    * construction (|queries| × k'), so BOTH joins broadcast — the
    * embedding table is probed by one scan with a broadcast-hash
    * semi-restriction and never shuffles; only shortlist-sized rows
    * carry float vectors. Anchors map query_id → an embedding-table id
    * whose vector stands in as the query vector.
    */
  def rerankByCosine(shortlist: DataFrame, embeddings: DataFrame,
                     idCol: String, vecCol: String,
                     anchors: Seq[(Long, Long)], k: Int): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    val qvec = anchors.toDF("query_id", "__anchor")
      .join(embeddings, col("__anchor") === col(idCol))
      .select(col("query_id"), col(vecCol).as("__qvec"))
    val cand = embeddings
      .select(col(idCol).as("doc_id"), col(vecCol).as("__vec"))
      .join(broadcast(shortlist.select("query_id", "doc_id")), Seq("doc_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(cosine(col("__vec"), col("__qvec")), 6).as("cos"))
    graft.plans.TopKAggregate
      .topKExploded(cand, Seq("query_id"), col("cos"), col("doc_id"), k)
      .select(col("query_id"), col("id").as("doc_id"),
        col("score").as("cos"), col("rank"))
  }

  /** L2-normalize (zero vectors pass through unscaled rather than NaN).
    * On normalized vectors L2 ordering ≡ cosine ordering — the
    * precondition for using an L2-metric index (PQ/ADC, IVF) to answer
    * cosine queries.
    */
  def l2normalize(v: Column): Column = {
    val n = norm(v)
    when(n === 0.0, v.cast("array<double>"))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** Per-vector symmetric int8 quantization: scale = max|x|/127, q_i =
    * round(x_i / scale). 4× memory cut for an ANN corpus (the index fits
    * where floats wouldn't); dot products on int8 with one final
    * rescale. Zero vectors quantize to zeros with scale 0. Pure per-row
    * expressions — quantization happens inside the scan at any scale.
    * Returns (scale, q) as a struct; elements arrive as ints for
    * engine-portable comparison.
    */
  def quantizeInt8(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    val scale  = maxAbs / lit(127.0)
    val q = when(maxAbs === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v, x => round(x.cast("double") / scale, 0).cast("int")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Sign-pattern bucket over the first `m` dimensions — a 1-bit-per-dim
    * random-hyperplane LSH with axis-aligned planes. Vectors in the same
    * bucket are cosine-close candidates; used to turn ANN into an
    * equi-join.
    */
  def signBucket(v: Column, m: Int): Column =
    (0 until m).map(i => when(try_element_at(v, lit(i + 1)) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Shared ranking tail for the ANN operators: per-query top-k via the
    * bounded [[graft.plans.TopKAggregate]] — k rows per (partition,
    * query) reach the shuffle with map-side combine, instead of the
    * window formulation sorting every candidate per query. Tie-break
    * (score desc, candidate id asc) is identical to the window form, so
    * results are bit-equal. Candidate ids must be long-castable (they
    * are vector ids throughout the engine).
    */
  def rankTopK(scored: DataFrame, qId: String, cId: String,
               k: Int): DataFrame =
    graft.plans.TopKAggregate.topKExploded(
        scored.select(col(qId), col(cId), col("score")),
        Seq(qId), col("score"), col(cId), k)
      .select(col(qId), col("id").as(cId), col("score"), col("rank"))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors. Query side is broadcast (it is the small side by
    * construction); ranking is the bounded top-k aggregate with a
    * deterministic (score desc, id asc) tie-break.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                     qVec: String, cVec: String, k: Int): DataFrame = {
    // norms once per side, not once per pair (identical doubles).
    // The streamed corpus side is widened first: the O(|q|·|corpus|)
    // scoring pass costs CPU ~ pairs, not bytes, so a corpus slice that
    // packs into one scan split would otherwise run the whole quadratic
    // pass on one task (measured 3.54 s -> 0.81 s for the sf0.1 kNN
    // graph; Fan.widen is the identity once the corpus is big enough to
    // split on bytes alone).
    val q = queries.withColumn("__qn", norm(col(qVec)))
    val c = graft.core.Fan.widen(corpus).withColumn("__cn", norm(col(cVec)))
    val joined = c
      .join(broadcast(q), col(qId) =!= col(cId))
      .withColumn("score", safeRatio(dot(col(qVec), col(cVec)), col("__qn") * col("__cn")))
    rankTopK(joined, qId, cId, k)
  }

  /** Exact cosine kNN GRAPH: every vector's k nearest among all the
    * others — the building block under graph-based clustering and
    * SemDeDup-style pruning. All-pairs by definition (the gold /
    * calibration tier): one side broadcasts, so this caps out where the
    * vector set stops fitting in a broadcast; [[knnGraphBlocked]] is
    * the scale path and measures its recall against THIS. Ranking is
    * the bounded top-k aggregate — the shuffle after the quadratic
    * score pass carries k rows per vector, not the n² candidates.
    */
  def knnGraph(vecs: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    val q = vecs.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val c = vecs.select(col(idCol).as("c_id"), col(vecCol).as("__cv"))
    bruteForceTopK(q, c, "q_id", "c_id", "__qv", "__cv", k)
  }

  /** O(|delta|·|corpus|) maintenance of an exact kNN graph under vector
    * arrivals — the graph tier of the engine's index-lifecycle
    * discipline (merge chain must equal a fresh rebuild, bit-for-bit):
    *
    *  - NEW vectors get lists by scoring against the UPDATED corpus
    *    (corpus ∪ delta, the delta side broadcasts);
    *  - EXISTING vectors merge their old bounded list with their
    *    scores against the delta ONLY — the old corpus is never
    *    re-paired with itself, which is where the rebuild's |C|² goes.
    *
    * Exactness composes: the old list is exact over C, the delta scores
    * are exact over D, and the bounded re-rank of their union is exact
    * over C ∪ D; the cosine expression is the same pure function of the
    * two vectors on every path, so merged scores (and ties) are
    * bit-identical to a fresh [[knnGraph]]. `baseGraph` must carry
    * (q_id, c_id, score) as produced by [[knnGraph]] at the same k.
    */
  def knnGraphMergeDelta(baseGraph: DataFrame, corpus: DataFrame,
                         delta: DataFrame, idCol: String, vecCol: String,
                         k: Int): DataFrame = {
    val full = corpus.select(col(idCol), col(vecCol))
      .unionByName(delta.select(col(idCol), col(vecCol)))
    val d = delta.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val c = full.select(col(idCol).as("c_id"), col(vecCol).as("__cv"))
    val deltaRows = bruteForceTopK(d, c, "q_id", "c_id", "__qv", "__cv", k)
    // widen the streamed corpus side of the vs-delta scoring pass
    // (|delta| cosines per corpus row — see bruteForceTopK)
    val qn = graft.core.Fan.widen(
        corpus.select(col(idCol).as("q_id"), col(vecCol).as("__qv")))
      .withColumn("__qn", norm(col("__qv")))
    val dn = delta.select(col(idCol).as("c_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val vsDelta = qn.join(broadcast(dn), col("q_id") =!= col("c_id"))
      .withColumn("score",
        safeRatio(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
      .select(col("q_id"), col("c_id"), col("score"))
    // REPLAY-SAFETY without a dedup shuffle: drop base edges that point
    // INTO the current delta — the vsDelta pass re-scores exactly those
    // (q, c ∈ delta) pairs with the same bits, so nothing is lost, and
    // a base that already holds delta neighbors (a replayed merge)
    // can't seat the same candidate twice in the bounded top-k. The
    // anti-join broadcasts the delta ids (the small side by design) —
    // a map-side filter, not an exchange; in a non-replay merge the
    // delta ids are new and it prunes nothing.
    val basePruned = baseGraph
      .join(broadcast(delta.select(col(idCol).as("__did"))),
        col("c_id") === col("__did"), "left_anti")
    val merged = basePruned.select(col("q_id"), col("c_id"), col("score"))
      .unionByName(vsDelta)
    rankTopK(merged, "q_id", "c_id", k).unionByName(deltaRows)
  }

  /** (q_id, c_id, score, rank) edge rows folded to one bounded list per
    * vector — the persisted form of the graph (rank = array position,
    * so the row is one version per id for the segment contract).
    */
  private def graphLists(rows: DataFrame): DataFrame =
    rows.groupBy(col("q_id").as("id"))
      .agg(sort_array(collect_list(
        struct(col("rank"), col("c_id"), col("score")))).as("__t"))
      .select(col("id"),
        expr("transform(__t, x -> named_struct('c_id', x.c_id, 'score', x.score))")
          .as("nbrs"))

  private def graphEdges(lists: DataFrame): DataFrame =
    lists.select(col("id").as("q_id"),
        posexplode(col("nbrs")).as(Seq("__p", "__n")))
      .select(col("q_id"), col("__n.c_id").as("c_id"),
        col("__n.score").as("score"), (col("__p") + 1).cast("long").as("rank"))

  /** Persist the exact kNN graph as a [[SegmentedIndex]] tree (subtable
    * `graph`: one row per vector id, bounded neighbor list in rank
    * order). Build once over the corpus, then maintain by delta
    * ([[mergeKnnGraphDelta]]) and purge by tombstone + repair
    * ([[retractKnnGraph]]) — the same lifecycle discipline as the
    * BM25/IVF/PQ/int8 indexes: every refresh is delta-sized, and the
    * live graph stays bit-identical to a fresh rebuild. Vectors are NOT
    * copied into the index; maintenance re-joins the corpus.
    */
  def saveKnnGraph(vecs: DataFrame, idCol: String, vecCol: String,
                   path: String, k: Int): Unit =
    saveKnnGraphFrom(knnGraph(vecs, idCol, vecCol, k), path)

  /** [[saveKnnGraph]] from an ALREADY-computed exact graph — the
    * shared-intermediate path: one exact pass feeds several consumers
    * instead of each persisting build paying its own quadratic scan.
    * `graph` must carry (q_id, c_id, score, rank) as produced by
    * [[knnGraph]] at the index's k.
    */
  def saveKnnGraphFrom(graph: DataFrame, path: String): Unit =
    SegmentedIndex.createIndex(graph.sparkSession, path, "graph",
      graphLists(graph))

  /** Live graph read (tombstone-masked, optional `asOf` pin) in edge
    * form: (q_id, c_id, score, rank).
    */
  def knnGraphEdges(spark: org.apache.spark.sql.SparkSession, path: String,
                    asOf: Int = Int.MaxValue): DataFrame =
    graphEdges(SegmentedIndex.liveRows(spark, path, "graph", asOf))

  /** O(delta) graph refresh: `corpus` is the PRE-delta vector set the
    * index was built over, `delta` the arrivals. The updated lists come
    * from [[knnGraphMergeDelta]] (old lists merge against the delta
    * only; new ids score against corpus ∪ delta); the segment written
    * carries ONLY the ids whose list actually changed plus the delta
    * ids — on a 100 TB corpus a small delta perturbs a bounded
    * neighborhood, and the segment is sized to it, not to the corpus.
    */
  def mergeKnnGraphDelta(spark: org.apache.spark.sql.SparkSession,
                         path: String, corpus: DataFrame, delta: DataFrame,
                         idCol: String, vecCol: String, k: Int): Unit = {
    // ONE live-segment read feeds both consumers (the merge base in
    // edge form and the changed-list comparison): the list rows are
    // PERSISTED — plan-level sharing alone would still re-execute the
    // union + tombstone-mask scan once per consumer at run time.
    val oldLists = SegmentedIndex.liveRows(spark, path, "graph").persist()
    try {
      // REPLAY-STABLE: a re-delivered delta (a crash between the graph
      // merge and the caller's corpus append) arrives with its ids already
      // in the stored graph — drop those rows from the base before
      // merging, so the delta path recomputes them identically and the
      // old-list path re-ranks lists that may already contain delta
      // neighbors (a second merge of the same delta is then a no-op on
      // the live graph instead of a duplicate-edge corruption).
      val base = graphEdges(oldLists)
        .join(delta.select(col(idCol).as("q_id")), Seq("q_id"), "left_anti")
      val updated = graphLists(
        knnGraphMergeDelta(base, corpus, delta, idCol, vecCol, k))
      val old = oldLists.select(col("id"), col("nbrs").as("__old"))
      // array-of-struct equality is exact (bitwise doubles) — unchanged
      // lists stay in their old segment
      val changed = updated.join(old, Seq("id"), "left")
        .filter(col("__old").isNull || !(col("nbrs") === col("__old")))
        .select("id", "nbrs")
        .persist()
      // materialize BEFORE the commit: the segment's two writes overlap
      // and both read `changed` — racing an un-materialized persist
      // would compute the merge pipeline twice concurrently
      changed.count()
      // the replaced (tombstone) set is changed ∩ live — and the live
      // ids are ALREADY in memory (oldLists): computing it here and
      // passing idsKnownLive skips mergeDeltaRows' second read of the
      // whole segment tree (guide §2.4 — the r12 shape re-scanned every
      // segment per merge just to recompute what this persist holds)
      val replaced = oldLists.select(col("id"))
        .join(changed.select(col("id")), Seq("id"), "left_semi")
      try
        SegmentedIndex.mergeDeltaRows(spark, path, "graph",
          replaced, changed, idsKnownLive = true)
      finally changed.unpersist(blocking = false)
    } finally oldLists.unpersist(blocking = false)
  }

  /** GDPR purge from the persisted graph: drop the retracted vectors'
    * OWN rows (tombstone segment) and REPAIR every surviving list that
    * cited a retracted id — those queries re-score exactly against the
    * surviving corpus (broadcast of the affected queries; the corpus
    * scans once). Cost is O(|affected|·|corpus|), never a rebuild, and
    * the live graph afterwards is bit-identical to a fresh build over
    * the surviving vectors. `corpus` is the full pre-retraction vector
    * set; the retracted ids are filtered here.
    */
  def retractKnnGraph(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String, k: Int): Unit = {
    val dead = ids.select(col(ids.columns.head).as("__dead")).persist()
    try {
      // ONE read of the live view serves every id derivation the purge
      // needs: the affected-list scan, the live∩dead tombstone set, and
      // (via the knownLive contract below) the repair merge's replaced
      // set — the pre-r11 shape re-read the whole segment tree three
      // times for what is one bounded (id, cited-ids) projection.
      val pre = SegmentedIndex.liveRows(spark, path, "graph")
        .select(col("id"), col("nbrs.c_id").as("__cs"))
        .persist()
      try {
        val affected = pre
          .select(col("id"), explode(col("__cs")).as("__c"))
          .join(broadcast(dead), col("__c") === col("__dead"), "left_semi")
          .select("id").distinct()
          .join(broadcast(dead), col("id") === col("__dead"), "left_anti")
        val deadLive = pre.select("id")
          .join(broadcast(dead), col("id") === col("__dead"), "left_semi")
        val live = corpus.join(broadcast(dead),
          col(idCol) === col("__dead"), "left_anti")
        val q = live.join(affected.withColumnRenamed("id", idCol),
            Seq(idCol), "left_semi")
          .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
        val c = live.select(col(idCol).as("c_id"), col(vecCol).as("__cv"))
        val repaired = graphLists(
          bruteForceTopK(q, c, "q_id", "c_id", "__qv", "__cv", k)).persist()
        // materialize BEFORE the commit: both overlapped segment writes
        // read `repaired` (rows, and ids inside the tombstone union) —
        // racing an un-materialized persist would run the repair's
        // brute pass twice concurrently
        repaired.count()
        // ONE combined purge+repair segment (guide §2.4 — the r12 shape
        // committed a tombstone-only retract segment and THEN a repair
        // segment: two listings, four parquet writes, two renames).
        // Segment semantics already express both events in one commit:
        // a dead id tombstones with no re-ingested row (deletion), an
        // affected id tombstones its old list and carries the repaired
        // one (replacement — same-segment rows survive their own
        // tombstones). Every id is live by construction (deadLive from
        // the live view; affected anti-joins the dead set), so the
        // knownLive fast path applies and the live graph afterwards is
        // identical to the two-segment sequence.
        try
          SegmentedIndex.mergeDeltaRows(spark, path, "graph",
            deadLive.unionByName(repaired.select("id")), repaired,
            idsKnownLive = true)
        finally repaired.unpersist(blocking = false)
      } finally pre.unpersist(blocking = false)
    } finally dead.unpersist(blocking = false)
  }

  /** Blocked kNN graph — the 100 TB shape: k-means cells confine the
    * quadratic pass. Every vector sits in its home cell once (the
    * candidate side) and is REPLICATED into its `nprobe` nearest cells
    * as a probe; candidates meet probes in an equi-join on `cid` —
    * a shuffle join co-partitioned by cell, with NO broadcast of the
    * vector set anywhere (unlike the query-batch ANN paths, the probe
    * side here is the whole corpus). Work drops from n² to
    * nprobe·n·(n/cells) pair scores; recall against [[knnGraph]] rises
    * with `nprobe` exactly like the IVF search knob. Same centroid
    * training ([[kmeansCentroids]]), same distance/tie-break discipline
    * as [[kmeansAssign]], so nprobe=1 probes exactly the home cell.
    */
  def knnGraphBlocked(vecs: DataFrame, idCol: String, vecCol: String,
                      k: Int, clusters: Int, iters: Int,
                      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= clusters,
      s"knnGraphBlocked: nprobe must be in [1, $clusters]")
    val centsLocal = collectCentroids(
      kmeansCentroids(vecs, idCol, vecCol, clusters, iters))
    val cells = kmeansAssignLocal(vecs, vecCol, centsLocal)
    // probe replication: top-nprobe cells per vector by the exact
    // distance/tie-break discipline of the assignment — the scan-side
    // NearestCellsExpr (rank-ordered cid array, exploded nprobe ways)
    // replaces the r12 broadcast-crossJoin + per-id window exchange.
    val probes = vecs.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      explode(graft.plans.CentroidOps.nearestCells(
        col(vecCol), centsLocal, nprobe)).as("cid"))
    // pin the cid-join's partitioning: the join multiplies its inputs
    // into nprobe·n·(n/cells) cosine candidates — CPU ~ pairs, which
    // AQE's bytes-based coalescing cannot see (see lshCandidatePairs)
    val cand = graft.core.Fan.widenBy(
        cells.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"), col("cid")),
        col("cid"))
      .join(probes, Seq("cid"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    rankTopK(cand, "q_id", "c_id", k)
  }

  /** Blocked CROSS top-k between two disjoint vector sets — the
    * bitext-mining shortlist shape at CCMatrix scale: `corpus` rows sit
    * in their k-means home cell once (the candidate side), each
    * `queries` row is replicated into its `nprobe` nearest cells, and
    * candidates meet probes in an equi-join on `cid` — a shuffle join
    * co-partitioned by cell with NO broadcast of either vector set
    * (both sides are corpus-sized in mining, unlike the query-batch ANN
    * paths). Centroids are passed IN so one training over the union of
    * both slices is shared by the two mining directions — the cell
    * geometry both directions shortlist against is then identical,
    * which is what makes the mutual-NN intersection downstream
    * meaningful. Same distance/tie-break discipline as [[kmeansAssign]]
    * (nprobe=1 probes exactly the home cell); recall vs
    * [[bruteForceTopK]] rises with `nprobe` exactly like the IVF knob.
    */
  def crossTopKBlocked(queries: DataFrame, corpus: DataFrame,
                       qId: String, cId: String, qVec: String, cVec: String,
                       k: Int, cents: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "crossTopKBlocked: need nprobe >= 1")
    val centsLocal = collectCentroids(cents)
    val cells = kmeansAssignLocal(corpus, cVec, centsLocal)
      .select(col(cId), col(cVec), col("cid"))
    // probe replication without the r12 broadcast-crossJoin + per-id
    // window exchange: NearestCellsExpr emits the rank-ordered nprobe
    // nearest cids per query row, scan-side (see knnGraphBlocked)
    val probes = queries.select(col(qId), col(qVec),
      explode(graft.plans.CentroidOps.nearestCells(
        col(qVec), centsLocal, nprobe)).as("cid"))
    // pin the cid-join's partitioning: nprobe·|q|·(n/cells) cosines —
    // CPU ~ pairs, invisible to AQE's bytes-based coalescing
    val cand = graft.core.Fan.widenBy(cells, col("cid"))
      .join(probes, Seq("cid"))
      .withColumn("score", cosine(col(qVec), col(cVec)))
    rankTopK(cand, qId, cId, k)
  }

  /** Artetxe & Schwenk ratio-margin mining tail shared by the brute
    * (calibration) and blocked bitext tiers: given each direction's
    * top-k candidate lists (as produced by [[bruteForceTopK]] /
    * [[crossTopKBlocked]] with columns (a_id|b_id, score, rank)), keep
    * the MUTUAL rank-1 pairs whose margin — candidate cosine over the
    * mean of each side's top-k cosines — clears 1.0. Engine parity:
    * the margin is built ONLY from 6-dp-rounded cosines summed as
    * DECIMAL (order-free exact), so any engine divides the same two
    * exact numbers. `k` is each list's depth (the ×2k margin scale).
    */
  def ratioMarginMine(topA: DataFrame, topB: DataFrame, k: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val denA = topA.groupBy("a_id")
      .agg(sum(round(col("score"), 6).cast(dec)).as("__dena"))
    val denB = topB.groupBy("b_id")
      .agg(sum(round(col("score"), 6).cast(dec)).as("__denb"))
    val bestA = topA.filter(col("rank") === 1)
      .select(col("a_id"), col("b_id"),
        round(col("score"), 6).cast(dec).as("__num"))
    val bestB = topB.filter(col("rank") === 1).select("a_id", "b_id")
    bestA.join(bestB, Seq("a_id", "b_id")) // mutual NN
      .join(denA, "a_id").join(denB, "b_id")
      .select(col("a_id"), col("b_id"),
        col("__num").cast("double").as("cos6"),
        round(col("__num").cast("double") * lit(2.0 * k) /
          (col("__dena") + col("__denb")).cast("double"), 6).as("margin"))
      .filter(col("margin") >= 1.0)
  }

  /** Int8 ANN with exact re-rank — the memory-bound scale path: the
    * corpus scans as symmetric-int8 codes of the L2-NORMALIZED vectors
    * (4× smaller than float32, quantized scan-side by [[quantizeInt8]]),
    * candidates rank by the pure INTEGER dot product (engine-portable
    * ordering — no float ties to diverge on; on normalized vectors
    * int-dot order ≈ cosine order), and only the `shortlist` survivors
    * per query pay the exact float cosine, via two broadcast joins of
    * the driver-small shortlist (the corpus is probed by one scan and
    * never shuffles). Both stages rank with the bounded
    * [[graft.plans.TopKAggregate]] (score desc, id asc).
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
               qVec: String, cVec: String, k: Int, shortlist: Int): DataFrame = {
    // codes kept as array<double> so the native codegen'd DotProduct
    // computes the integer dot EXACTLY (|idot| ≤ 127²·dim ≪ 2⁵³); the
    // normalize+quantize pass is the native Int8CodesExpr — the HOF
    // composition costs five interpreted lambda passes per vector
    def codes(v: Column): Column = graft.plans.Int8CodesExpr.int8Codes(v)
    val q0 = queries.select(col(qId), codes(col(qVec)).as("__qq"))
    // widen the streamed code side: integer-dot × |q| per corpus row is
    // CPU-bound, not byte-bound (see bruteForceTopK)
    val c0 = graft.core.Fan.widen(
      corpus.select(col(cId), codes(col(cVec)).as("__cq")))
    val cand = c0.join(broadcast(q0), col(qId) =!= col(cId))
      .withColumn("score", dot(col("__qq"), col("__cq")))
    val short = rankTopK(cand, qId, cId, shortlist).select(col(qId), col(cId))
    val exact = corpus.select(col(cId), col(cVec))
      .join(broadcast(short), cId)
      .join(broadcast(queries.select(col(qId), col(qVec))), qId)
      .withColumn("score", cosine(col(qVec), col(cVec)))
    rankTopK(exact, qId, cId, k)
  }

  /** Persist int8 codes as a segmented index — the operational form of
    * [[int8TopK]]: codes are computed ONCE per corpus build instead of
    * per query batch (the 4×-smaller scan then amortizes across every
    * probe). Unlike IVF/PQ there are NO trained parameters — symmetric
    * 127-scale quantization of the L2-normalized vector is a pure
    * per-row function — so deltas need no frozen-parameter discipline
    * and a merge chain is trivially bit-identical to a fresh build
    * over the latest corpus. NULL vectors delete; retract/compact via
    * the generic [[SegmentedIndex]] machinery ("codes8" subtable).
    */
  def saveInt8Index(df: DataFrame, idCol: String, vecCol: String,
                    path: String): Unit =
    SegmentedIndex.createIndex(df.sparkSession, path, "codes8",
      df.filter(col(vecCol).isNotNull).select(col(idCol).as("id"),
        graft.plans.Int8CodesExpr.int8Codes(col(vecCol)).as("codes")))

  /** O(delta) int8 refresh — [[SegmentedIndex.mergeDeltaRows]] contract
    * (one row per id, NULL vector = deletion).
    */
  def mergeInt8Delta(delta: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "codes8",
      delta.select(col(idCol)),
      delta.filter(col(vecCol).isNotNull).select(col(idCol).as("id"),
        graft.plans.Int8CodesExpr.int8Codes(col(vecCol)).as("codes")))

  /** Tombstone-masked live (id, codes) rows of a persisted int8 index.
    * `asOf` pins the snapshot to segments <= asOf.
    */
  def int8Codes(spark: org.apache.spark.sql.SparkSession, path: String,
                asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "codes8", asOf)

  /** [[int8TopK]] answering from the persisted codes: the stored-code
    * scan ranks by INTEGER dot against broadcast query codes (corpus
    * floats untouched), then only the shortlist survivors pay the
    * exact cosine via two broadcast joins. Bit-identical to
    * train-per-call [[int8TopK]] on the same live corpus — quantization
    * is per-row, so the stored codes ARE the per-call codes.
    */
  def int8TopKFromIndex(path: String, corpus: DataFrame, idCol: String,
                        vecCol: String, queryFilter: Column, k: Int,
                        shortlist: Int, asOf: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val q0 = corpus.filter(queryFilter).select(col(idCol).as("q_id"),
      graft.plans.Int8CodesExpr.int8Codes(col(vecCol)).as("__qq"))
    val c0 = graft.core.Fan.widen(int8Codes(spark, path, asOf)
      .select(col("id").as("c_id"), col("codes").as("__cq")))
    val cand = c0.join(broadcast(q0), col("q_id") =!= col("c_id"))
      .withColumn("score", dot(col("__qq"), col("__cq")))
    val short = rankTopK(cand, "q_id", "c_id", shortlist)
      .select(col("q_id"), col("c_id"))
    val exact = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .join(broadcast(short), "c_id")
      .join(broadcast(corpus.filter(queryFilter)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))), "q_id")
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    rankTopK(exact, "q_id", "c_id", k)
  }

  /** Banded sign buckets (OR-construction): `bands` independent
    * 1-bit-per-dim hyperplane tables over disjoint dimension slices,
    * returned as an array of `(band << 32) | bucket` keys to explode.
    *
    * One wide table has a recall cliff (a near-dup pair differing in a
    * single hashed dimension is lost forever) and skew cliffs on
    * correlated dimensions (one bucket swallows the corpus). The OR over
    * b narrow bands keeps any pair that agrees on at least one slice,
    * and each band's buckets stay 2^bitsPerBand-way partitioned — the
    * same banding argument as MinHash-LSH.
    */
  def bandedSignBuckets(v: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { b =>
      (0 until bitsPerBand).map { i =>
        // try_element_at: dims past the vector length hash to bit 0
        // instead of an ANSI out-of-bounds error
        when(try_element_at(v, lit(b * bitsPerBand + i + 1)) >= 0f, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _) + lit(b.toLong << 32)
    }: _*)

  /** Banded near-dup: explode band keys → per-band bucket equi-join →
    * distinct pairs → exact cosine verify ONCE per pair → round+filter.
    * Never all-pairs; at cluster scale each band join shuffles on its
    * own bucket key and the distinct bounds the verify stage.
    *
    * Sizing rule: `bitsPerBand` must grow with the corpus — the
    * per-band self-join is quadratic in bucket occupancy, so target
    * `bitsPerBand ≈ log2(n / desiredBucketSize)`. Measured at 80k
    * vectors: 8 bits → ~10^8 candidates, 42 s; 16 bits → identical
    * output pairs, 7.5 s.
    */
  def bandedNearDup(df: DataFrame, id: String, vec: String, bands: Int,
                    bitsPerBand: Int, minCos: Double, roundScale: Int = 6,
                    maxBucket: Int = 10000): DataFrame = {
    // candidate generation carries ONLY ids through the band join and the
    // pair-distinct exchange — vectors re-join once per distinct pair for
    // the verify (measured: shuffling the vec payloads through the
    // distinct was 187s vs 8s at 80k×40-dup corpus)
    val keyed = df.select(col(id),
      explode(bandedSignBuckets(col(vec), bands, bitsPerBand)).as("__bk"))
    // bucket-occupancy cap: the per-band self-join is quadratic in
    // bucket size, so a zipf mega-cluster (10⁴ embedding near-dups in
    // one bucket) would emit 5·10⁷ candidates per band regardless of
    // bitsPerBand. Buckets above the cap are excluded from pairwise
    // generation (route such corpora through star edges + connected
    // components instead); on uniform data with the documented
    // bitsPerBand sizing the cap never binds.
    val small = keyed.groupBy(col("__bk")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxBucket).select("__bk")
    val kept = keyed.join(small, Seq("__bk"), "left_semi")
    val pairs = kept.select(col(id).as("id_a"), col("__bk"))
      .join(kept.select(col(id).as("id_b"), col("__bk")), Seq("__bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(df.select(col(id).as("id_a"), col(vec).as("vec_a")), Seq("id_a"))
      .join(df.select(col(id).as("id_b"), col(vec).as("vec_b")), Seq("id_b"))
      .withColumn("cos", round(cosine(col("vec_a"), col("vec_b")), roundScale))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication: learn coarse k-means cells
    * (deterministic Lloyd, [[kmeansCentroids]]), then inside each cell
    * drop every vector that has a smaller-id neighbor at cosine ≥ tau —
    * the deterministic min-id survivor rule. Returns the surviving
    * (id, vec, cid) rows.
    *
    * Scale shape: the quadratic pairwise work is confined to one cell
    * (the SemDeDup contract — `clusters` grows with the corpus so cell
    * occupancy stays bounded), and the only wide exchange is the
    * equi-join on `cid`, which shuffles each (cid, id, vec) row once
    * per side. Cells whose occupancy exceeds `maxCell` (a runaway
    * mega-cluster under skew) skip pairwise pruning and keep all
    * members rather than emit O(n²) candidate pairs — same occupancy
    * cap as [[bandedNearDup]]'s `maxBucket`, and mirrored in the
    * oracle so the cap itself is correctness-gated.
    */
  def semanticDedup(df: DataFrame, id: String, vec: String,
                    clusters: Int, iters: Int, tau: Double,
                    roundScale: Int = 6, maxCell: Long = Long.MaxValue,
                    trainFilter: Column = lit(true)): DataFrame = {
    // at corpus scale Lloyd trains on a hash-sample (trainFilter); the
    // full corpus only pays the broadcast assignment + the prune
    val cents = kmeansCentroids(df.filter(trainFilter), id, vec, clusters, iters)
    semanticPrune(kmeansAssign(df, id, vec, cents), id, vec, tau, roundScale, maxCell)
  }

  /** [[semanticDedup]] answering from a persisted IVF index (see
    * [[saveIvfIndex]]): the build-once cell assignment replaces the
    * retrain+reassign, so repeated dedup passes (every corpus refresh)
    * pay only the prune. Bit-identical to train-per-call with the same
    * training parameters — one oracle gates both.
    */
  def semanticDedupFromIndex(path: String, df: DataFrame, id: String, vec: String,
                             tau: Double, roundScale: Int = 6,
                             maxCell: Long = Long.MaxValue,
                             asOf: Int = Int.MaxValue): DataFrame = {
    val cells = ivfCells(df.sparkSession, path, asOf)
      .withColumnRenamed("id", id)
      .join(df.select(col(id), col(vec)), Seq(id))
    semanticPrune(cells, id, vec, tau, roundScale, maxCell)
  }

  /** Streaming-legal cell assignment: per-row argmin over LITERAL
    * centroids (`array_min` over (dist, cid) structs — the same
    * three-fold distance expression and cid tie-break as
    * [[kmeansAssign]], so both forms assign identically). The
    * join+window form is faster in batch (see kmeansAssign's measured
    * shape note), but non-time windows are illegal on unbounded
    * streams; this form is stateless and shuffle-free, which is what
    * ingest needs. Centroid count is k (driver-small by construction).
    */
  def assignCellLiteral(vec: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val entries = centroids.sortBy(_._1).map { case (cid, c) =>
      val carr = array(c.map(lit): _*)
      struct(
        (dot(vec, vec) - lit(2.0) * dot(vec, carr) + dot(carr, carr)).as("dist"),
        lit(cid).as("cid"))
    }
    array_min(array(entries: _*)).getField("cid")
  }

  /** Ingest-time near-dup probe against a persisted IVF index: each
    * incoming row is assigned to its cell per-row ([[assignCellLiteral]],
    * no window, no shuffle), then an equi-join on `cid` against the
    * index cells (corpus vectors re-joined by id) flags pairs at
    * cos ≥ tau.
    */
  def nearDupProbeIndex(path: String, incoming: DataFrame, id: String, vec: String,
                        corpus: DataFrame, tau: Double, roundScale: Int = 6,
                        asOf: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
    val cells = ivfCells(spark, path, asOf).withColumnRenamed("id", "c_id")
      .join(corpus.select(col(id).as("c_id"), col(vec).as("c_vec")), Seq("c_id"))
      .withColumn("__cn", norm(col("c_vec"))) // norms once per side
    incoming.select(col(id).as("q_id"), col(vec).as("q_vec"))
      .withColumn("cid", assignCellLiteral(col("q_vec"), cents))
      .withColumn("__qn", norm(col("q_vec")))
      .join(cells, Seq("cid"))
      .withColumn("cos", round(safeRatio(dot(col("q_vec"), col("c_vec")),
        col("__qn") * col("__cn")), roundScale))
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("c_id"), col("cos"))
  }

  /** Within-cell min-id-survivor prune shared by the train-per-call and
    * persisted-index SemDeDup paths. `cells` carries (id, vec, cid).
    *
    * The assignment feeds FOUR consumers (occupancy count, both sides
    * of the pair join, the survivor anti-join), so it is persisted for
    * the life of the returned plan — without this the train-per-call
    * path replays the full crossJoin+window assignment per consumer
    * (measured 4× the operator's cost at the 80k smoke). Same persist
    * contract as the winnow index (one materialization, many readers);
    * callers running many operators back-to-back reclaim it with
    * `spark.catalog.clearCache()`.
    */
  private def semanticPrune(cells0: DataFrame, id: String, vec: String,
                            tau: Double, roundScale: Int, maxCell: Long): DataFrame = {
    // the sqrt ulp argument below (identical pairs round to 1.0) needs
    // the round to absorb a ~1e-16 error; 12 decimals is plenty and
    // far past any engine-portable use
    require(roundScale <= 12, "roundScale above 12 breaks the collapse proof")
    val cells = cells0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // occupancy is k rows — broadcast the under-cap cell list
    val small = cells.groupBy("cid").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxCell).select("cid")
    // norms once per side, not once per pair (identical doubles — the
    // bruteForceTopK pattern)
    val bounded = cells.join(broadcast(small), Seq("cid"), "left_semi")
      .withColumn("__nm", norm(col(vec)))
    // zero-norm / NaN vectors: cosine against ANYTHING is NaN, so they
    // are permanent survivors and can never prune others — out of the
    // pairwise entirely (NaN norm fails the > 0 predicate too)
    val nz = bounded.filter(col("__nm") > 0.0)
    // exact-duplicate pre-collapse, provably result-identical: bitwise
    // equal vectors produce bit-equal cosines against every third row,
    // so a group member is interchangeable with its min-id
    // representative in every cross comparison, and every non-minimal
    // member is pruned by its own group min whenever the identical-pair
    // predicate passes — which is evaluated EXACTLY (same fold, same
    // round) rather than assumed. Pairwise then runs over DISTINCT
    // vectors only: a zipf mega-group of identical rows (the web-corpus
    // shape) costs linear, not quadratic.
    val reps = nz.groupBy(col("cid"), col(vec), col("__nm"))
      .agg(min(col(id)).as("__rep"))
    val selfPass = round(safeRatio(dot(col(vec), col(vec)),
      col("__nm") * col("__nm")), roundScale) >= tau
    val exactDups = nz
      .join(reps.filter(selfPass).select(col("cid"), col(vec), col("__rep")),
        Seq("cid", vec))
      .filter(col(id) =!= col("__rep"))
      .select(col(id).as("__dup"))
    val nearDups = reps.select(col("cid"), col("__rep").as("__id_a"),
        col(vec).as("__vec_a"), col("__nm").as("__na"))
      .join(reps.select(col("cid"), col("__rep").as("__id_b"),
        col(vec).as("__vec_b"), col("__nm").as("__nb")), Seq("cid"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(round(safeRatio(dot(col("__vec_a"), col("__vec_b")),
        col("__na") * col("__nb")), roundScale) >= tau)
      .select(col("__id_b").as("__dup"))
    val dups = exactDups.unionByName(nearDups).distinct()
    cells.join(dups, col(id) === col("__dup"), "left_anti")
  }

  /** Banded LSH top-k: candidates = union of per-band collisions
    * (deduped), exact cosine rank once per candidate. Same contract as
    * [[lshTopK]] with the single-table recall cliff removed.
    */
  def bandedLshTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                    qVec: String, cVec: String, k: Int, bands: Int,
                    bitsPerBand: Int): DataFrame = {
    // candidate ids only through the band join + distinct; the query side
    // (vectors + norms) re-broadcasts for the scoring join, the corpus
    // vectors join once per distinct candidate
    val qk = queries.select(col(qId),
      explode(bandedSignBuckets(col(qVec), bands, bitsPerBand)).as("__bk"))
    val ck = corpus.select(col(cId),
      explode(bandedSignBuckets(col(cVec), bands, bitsPerBand)).as("__bk"))
    val cand = ck.join(broadcast(qk), Seq("__bk"))
      .filter(col(qId) =!= col(cId))
      .select(col(qId), col(cId)).distinct()
    val scored = cand
      .join(broadcast(queries.withColumn("__qn", norm(col(qVec)))), Seq(qId))
      .join(corpus.withColumn("__cn", norm(col(cVec))), Seq(cId))
      .withColumn("score", safeRatio(dot(col(qVec), col(cVec)), col("__qn") * col("__cn")))
    rankTopK(scored, qId, cId, k)
  }

  // ---- learned-centroid IVF (Lloyd's k-means, deterministic) ----------

  /** Collect a driver-small (cid, centroid) table for the native
    * nearest-centroid expressions. k·dim doubles by construction
    * (the same bound that lets every assign path broadcast it).
    */
  private def collectCentroids(centroids: DataFrame): Seq[(Int, Seq[Double])] =
    centroids
      .select(col("cid").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .toSeq

  /** Nearest-centroid assignment: per-row argmin of
    * ||v||² − 2·v·c + ||c||² (three sequential folds — the exact op
    * order the oracle replays) with a cid tie-break. Adds `cid`.
    *
    * Shape note: the r11 form was a broadcast join + per-id
    * `row_number()` window — k distance folds per row feeding a
    * map-side WindowGroupLimit, but still ONE EXCHANGE of the
    * vector-carrying frame per assignment (and the measured-8×-slower
    * Catalyst literal-centroid expression allocated structs/arrays per
    * row). [[graft.plans.NearestCellExpr]] computes the identical
    * argmin (same distance doubles, same cid tie-break —
    * property-specced) inside whole-stage codegen with NO join, NO
    * window and NO exchange: the assignment is a pure per-row function
    * of the vector and the driver-small centroid set, so the plan is a
    * scan-side projection at any scale.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame =
    kmeansAssignLocal(df, vecCol, collectCentroids(centroids))

  /** [[kmeansAssign]] with an already-driver-local centroid set (the
    * Lloyd loop holds one between iterations — no collect job).
    */
  private def kmeansAssignLocal(df: DataFrame, vecCol: String,
                                cents: Seq[(Int, Seq[Double])]): DataFrame =
    df.withColumn("cid",
      graft.plans.CentroidOps.nearestCell(col(vecCol), cents))

  /** Lloyd's k-means over an embedding column, shaped for a cluster:
    * per iteration ONE aggregation-only job — the scan-side
    * [[graft.plans.NearestCellExpr]] assigns each row to its cell with
    * no join/window/exchange, and the only shuffle carries k·dim
    * partial (cid, dim) sums per task, never vectors (the r12 shape
    * paid an extra per-id window exchange per iteration for the
    * assignment). Deterministic end to end: seeds are the k
    * lowest-id vectors, per-dim means go through DECIMAL(30,10) sums
    * (partial-agg order can't change them), distance ties break on cid.
    * Returns the k final centroids as (cid, centroid array<double>) —
    * driver-small by construction (k·dim doubles).
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // every Lloyd iteration runs 1-2 jobs over the SAME slim
    // (id, vector) projection — persist it for the life of the loop so
    // the source is scanned once, not 2·iters+1 times (at 100 TB train
    // on a hash-sample so this cache is executor-memory-sized), and
    // release it before returning: all consumers run inside this method.
    val v = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Seq[(Int, Seq[Double])] =
        v.orderBy(col("__id")).limit(k).collect().zipWithIndex.map { case (r, i) =>
          i -> r.getSeq[Double](1).toSeq
        }.toSeq
      for (_ <- 0 until iters) {
        val assigned = kmeansAssignLocal(v, "__vec", centroids)
        val sums = assigned
          .select(col("cid"), posexplode(col("__vec")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(sum(col("x").cast("decimal(30,10)")).as("s"), count(lit(1)).as("n"))
          .collect()
        // mean = double(decimal sum) / n — the same two-step the oracle does
        val updated = sums.groupBy(_.getInt(0)).map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1))
            .map(r => r.getDecimal(2).doubleValue() / r.getLong(3)).toSeq
        }
        // a cid absent from the sums had an empty cluster this iteration:
        // carry its previous centroid forward so k stays fixed
        centroids = centroids.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
      }
      centroids.toDF("cid", "centroid")
    } finally v.unpersist(blocking = false)
  }

  /** IVF search with learned centroids: train k-means, assign every
    * vector to its cell, probe the query's `nprobe` nearest cells,
    * exact cosine rank inside them. The cell join is an equi-join on
    * `cid` — the same all-shuffles-are-id-sized shape as the label-cell
    * variant, with centroids learned instead of given. `nprobe` is the
    * standard IVF recall/cost knob: boundary queries whose true
    * neighbors sit in an adjacent cell are recovered at nprobe ≥ 2 for
    * nprobe/clusters of the exhaustive cost.
    */
  def kmeansIvfTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryFilter: Column, k: Int, clusters: Int,
                    iters: Int, roundScale: Int = 6,
                    nprobe: Int = 1): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, clusters, iters)
    val cells = kmeansAssign(df, idCol, vecCol, cents)
    val c = cells.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"), col("cid"))
    val q0 = df.filter(queryFilter)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    ivfSearch(cents, c, q0, k, roundScale, nprobe)
  }

  /** Probe-and-rank core shared by the train-per-call and persisted-
    * index IVF paths: per query, the `nprobe` nearest cells by the
    * exact distance expression (and cid tie-break) kmeansAssign ranks
    * with — so nprobe=1 probes exactly the query's own cell — then an
    * equi-join on `cid` and exact cosine rank inside the probed cells.
    */
  private def ivfSearch(cents: DataFrame, cells: DataFrame, q0: DataFrame,
                        k: Int, roundScale: Int, nprobe: Int): DataFrame = {
    // nprobe nearest cells per query scan-side (NearestCellsExpr — the
    // same distance/tie-break as the assignment; no crossJoin, no
    // per-query window exchange)
    val q = q0.select(col("q_id"), col("q_vec"),
      explode(graft.plans.CentroidOps.nearestCells(
        col("q_vec"), collectCentroids(cents), nprobe)).as("cid"))
    val joined = graft.core.Fan.widen(cells).join(broadcast(q), Seq("cid"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    rankTopK(joined, "q_id", "c_id", k)
      .select(col("q_id"), col("c_id"), round(col("score"), roundScale).as("score"), col("rank"))
  }

  /** Train and PERSIST an IVF index: frozen centroids at
    * `$path/centroids` plus the (id, cid) cell assignment as SEGMENT
    * 00000 of a [[SegmentedIndex]] tree (`$path/segments/NNNNN/{cells,
    * tombstones}`). Build once, query many — at 100 TB retraining and
    * reassigning per query batch is the difference between an index and
    * a scan — and refresh by delta ([[mergeIvfDelta]]): a corpus delta
    * assigns against the EXISTING centroids and appends a cell segment
    * instead of forcing a full re-cluster + reassign. Vectors are NOT
    * copied into the index (cells carry ids only); queries re-join the
    * corpus.
    */
  def saveIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                   path: String, clusters: Int, iters: Int): Unit = {
    val cents = kmeansCentroids(df, idCol, vecCol, clusters, iters)
    // the centroid table and the cell segment are independent writes
    // over distinct dirs — overlap (§2.6)
    graft.core.Fan.overlap(Seq(
      () => cents.write.mode("overwrite").parquet(s"$path/centroids"),
      () => SegmentedIndex.createIndex(df.sparkSession, path, "cells",
        kmeansAssign(df, idCol, vecCol, cents)
          .select(col(idCol).as("id"), col("cid")))))
  }

  /** O(delta) IVF refresh, mirroring [[Curation.mergeBm25Delta]]'s
    * segment discipline: delta rows are assigned to the EXISTING
    * centroids (no re-train — the 100 TB daily-ingest contract), the
    * new (id, cid) rows land as segment N, and re-ingested ids are
    * tombstoned so only the latest version is live. Delta contract as
    * BM25: at most one row per id (asserted); a NULL `vecCol` row is a
    * DELETION (tombstoned if live, nothing ingested — the retraction
    * path; [[SegmentedIndex.retract]] is the id-list shorthand).
    *
    * Result contract: after any merge chain, the live cells equal ONE
    * fresh [[kmeansAssign]] of the latest-version corpus under the
    * frozen centroids — bit-identical, since assignment is per-row and
    * order-free. Run [[compactIvfIndex]] to fold segments, and watch
    * [[SegmentedIndex.deltaFraction]] (`"cells"`) for drift: once
    * deltas dominate the base, the centroids no longer describe the
    * corpus and a re-train ([[saveIvfIndex]]) is due.
    */
  def mergeIvfDelta(delta: DataFrame, idCol: String, vecCol: String,
                    path: String): Unit = {
    val spark = delta.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    SegmentedIndex.mergeDeltaRows(spark, path, "cells",
      delta.select(col(idCol)),
      kmeansAssign(delta.filter(col(vecCol).isNotNull), idCol, vecCol, cents)
        .select(col(idCol).as("id"), col("cid")))
  }

  /** Fold all live cell rows back into a single segment 00000 (dead
    * versions dropped; answers never change). Two-rename swap, same as
    * BM25 compaction.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      pinnedBy: Option[String] = None): Unit =
    SegmentedIndex.compactIndex(spark, path, "cells", pinnedBy)

  /** Tombstone-masked live (id, cid) rows of a persisted IVF index.
    * `asOf` pins the snapshot to segments <= asOf (see
    * [[SegmentedIndex.liveRows]]).
    */
  def ivfCells(spark: org.apache.spark.sql.SparkSession,
               path: String, asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "cells", asOf)

  /** Close the drift loop: when the appended-delta share of the index
    * crosses `threshold` (footer arithmetic only — deciding costs ZERO
    * jobs), re-train and re-assign from the caller's current corpus
    * via [[saveIvfIndex]]; below it, no-op. Returns whether a re-train
    * ran. [[mergeIvfDelta]] folds each delta in; an operator (or a
    * scheduled job) calls this between merges —
    * the re-train is the ONLY corpus-sized pass in the lifecycle, and
    * this is the documented hook that decides when to pay it.
    */
  def retrainIvfIfDrifted(corpus: DataFrame, idCol: String, vecCol: String,
                          path: String, threshold: Double,
                          clusters: Int, iters: Int): Boolean = {
    val drift = SegmentedIndex.deltaFraction(corpus.sparkSession, path, "cells")
    if (drift <= threshold) false
    else { saveIvfIndex(corpus, idCol, vecCol, path, clusters, iters); true }
  }

  /** IVF top-k against a persisted index (see [[saveIvfIndex]]): live
    * cell ids join back to the corpus by id for vectors, centroids
    * broadcast for the probe. Identical results to [[kmeansIvfTopK]]
    * with the same training parameters.
    */
  def ivfTopKFromIndex(path: String, corpus: DataFrame, idCol: String,
                       vecCol: String, queryFilter: Column, k: Int,
                       roundScale: Int = 6, nprobe: Int = 1,
                       asOf: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val cells = ivfCells(spark, path, asOf)
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("c_vec")), Seq("id"))
      .select(col("id").as("c_id"), col("c_vec"), col("cid"))
    val q0 = corpus.filter(queryFilter)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    ivfSearch(cents, cells, q0, k, roundScale, nprobe)
  }

  // ---- product quantization (PQ) ------------------------------------

  /** Contiguous subvector `sub` (0-based) of an m-way split of a
    * dim-length vector, as array<double>. slice() is 1-based.
    */
  private def subVec(v: Column, sub: Int, m: Int, dim: Int): Column =
    slice(v.cast("array<double>"), sub * (dim / m) + 1, dim / m)

  /** Train per-subspace PQ codebooks: deterministic Lloyd's k-means
    * (seeded by lowest ids, decimal sums, cid tie-breaks) over each of
    * the m contiguous subvector spaces. Returns (sub, cid, centroid).
    *
    * All m subspace trainings run FUSED in one aggregation-only job per
    * Lloyd step: the scan-side [[graft.plans.PqCodesExpr]] assigns every
    * subspace's code per row (no join, no per-(id,sub) window exchange —
    * the r12 shape paid one per iteration), and one (sub, cid, pos)
    * decimal aggregation over the element explosion updates every
    * codebook. The math is row-for-row identical to the per-subspace
    * join+window formulation (spec-pinned). Codebook size is
    * m·ksub·(dim/m) doubles — driver-small by construction, the
    * precondition for broadcasting it everywhere downstream.
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, dim: Int, ksub: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val spark = df.sparkSession
    import spark.implicits._
    val d = dim / m
    // one slim cast projection, scanned once per Lloyd step
    val v = df.select(col(vecCol).cast("array<double>").as("__vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: the ksub lowest-id vectors; subspace sub's seed cid i is
      // that vector's sub-th slice (cast-then-slice ≡ subVec)
      val seedVecs = df
        .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__vec"))
        .orderBy($"__id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toIndexedSeq)
      var centroids: Map[(Int, Int), Seq[Double]] =
        (for { sub <- 0 until m; (v, i) <- seedVecs.zipWithIndex }
          yield (sub, i) -> v.slice(sub * d, sub * d + d).toSeq).toMap
      for (_ <- 0 until iters) {
        val books: Seq[Seq[Double]] =
          for (sub <- 0 until m; cid <- 0 until ksub)
            yield centroids((sub, cid))
        // codes once per row (projection below the generator), then the
        // element explosion regroups (sub = j div d, pos = j mod d) —
        // x values, grouping keys and decimal sums are identical to the
        // exploded-subvector formulation
        val sums = v
          .select(col("__vec"),
            graft.plans.CentroidOps.pqCodes(col("__vec"), books, m, ksub)
              .as("__codes"))
          .select(col("__codes"), posexplode(col("__vec")).as(Seq("j", "x")))
          .select(expr(s"CAST(j DIV $d AS INT)").as("sub"),
            element_at(col("__codes"), expr(s"CAST(j DIV $d AS INT)") + 1)
              .as("cid"),
            expr(s"CAST(j % $d AS INT)").as("pos"), col("x"))
          .groupBy("sub", "cid", "pos")
          .agg(sum(col("x").cast("decimal(30,10)")).as("s"), count(lit(1)).as("n"))
          .collect()
        // mean = double(decimal sum) / n — the same two-step as
        // kmeansCentroids; a (sub, cid) absent from the sums had an
        // empty cluster: carry its previous centroid forward
        val updated = sums.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(2))
            .map(r => r.getDecimal(3).doubleValue() / r.getLong(4)).toSeq
        }
        centroids = centroids.map { case (k, old) => k -> updated.getOrElse(k, old) }
      }
      centroids.toSeq.map { case ((sub, cid), c) => (sub, cid, c) }
        .sortBy(k => (k._1, k._2)).toDF("sub", "cid", "centroid")
    } finally v.unpersist(blocking = false)
  }

  /** Collect a codebook table to the driver for [[graft.plans.PqCodesExpr]]:
    * (sub, cid, centroid) rows, required dense over [0,m)×[0,ksub)
    * (what [[pqCodebooks]] produces and every persisted index stores),
    * returned in (sub asc, cid asc) order. m·ksub·(dim/m) doubles —
    * driver-small by construction.
    */
  private def collectBooks(codebooks: DataFrame, m: Int): (Seq[Seq[Double]], Int) = {
    val rows = codebooks
      .select(col("sub").cast("int"), col("cid").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
    require(rows.nonEmpty && rows.length % m == 0,
      s"codebooks: got ${rows.length} rows, not a multiple of m=$m")
    val ksub = rows.length / m
    val byKey = rows.toMap
    require(byKey.size == rows.length, "codebooks: duplicate (sub, cid) rows")
    val seq = for { s <- 0 until m; c <- 0 until ksub } yield
      byKey.getOrElse((s, c), throw new IllegalArgumentException(
        s"codebooks: missing dense entry (sub=$s, cid=$c)"))
    (seq, ksub)
  }

  /** PQ-encode a corpus into ONE row per vector: `(id, codes)` with
    * `codes` the m subspace codes in subspace order (array<int>). This
    * is the persisted form of a PQ index — m small ints per vector —
    * and the input shape [[AdcDistance]] consumes. The encode is the
    * scan-side [[graft.plans.PqCodesExpr]] — all m subspace argmins in
    * one codegen'd per-row pass over the broadcastable codebooks, with
    * NO explode, NO join, NO window and NO pack shuffle (the r12 shape
    * paid a per-(id,sub) window exchange plus a groupBy pack exchange;
    * codes are bit-identical — spec-pinned against that join+window
    * form, kept in CentroidExpressionsSpec).
    */
  def pqEncodePacked(df: DataFrame, idCol: String, vecCol: String,
                     codebooks: DataFrame, m: Int, dim: Int,
                     keep: Seq[String] = Nil): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val (books, ksub) = collectBooks(codebooks, m)
    require(books.head.length == dim / m,
      s"codebooks: centroid length ${books.head.length} != dim/m = ${dim / m}")
    // `keep` rides the same projection — the encode is per-row, so a
    // caller that needs (id, cell, codes) no longer re-joins the source
    // frame on id (the r12 groupBy pack forced that join)
    df.select((col(idCol) +: keep.map(col)) :+
      graft.plans.CentroidOps.pqCodes(
        col(vecCol).cast("array<double>"), books, m, ksub).as("codes"): _*)
  }

  /** Per-query FLATTENED ADC distance table: one row per distinct
    * `keys` tuple with `__dtab[sub·ksub + code]` the exact L2² between
    * the query's `sub` subvector and codebook centroid `code` — the
    * broadcastable lookup table [[AdcDistance]] indexes with a
    * vector's packed codes. `keys` is (qId) for flat PQ and
    * (qId, cell) for IVF-PQ, where each probed cell gets its own
    * residual table. Ordering inside the array is pinned by the
    * (sub, code) sort; [[kmeansCentroids]] keeps cids dense
    * 0..ksub-1 (empty clusters carry forward), which AdcDistance
    * re-checks per row.
    */
  private def adcTable(queries: DataFrame, keys: Seq[String], qVec: String,
                       codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val qsubs = queries.select(keys.map(col) :+ posexplode(
      array((0 until m).map(subVec(col(qVec), _, m, dim)): _*)).as(Seq("sub", "__qv")): _*)
    qsubs.join(broadcast(codebooks), Seq("sub"))
      .select(keys.map(col) :+ col("sub") :+ col("cid") :+
        (dot(col("__qv"), col("__qv")) - lit(2.0) * dot(col("__qv"), col("centroid")) +
          dot(col("centroid"), col("centroid"))).as("__d"): _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid"), col("__d")))),
        s => s.getField("__d")).as("__dtab"))
  }

  /** ADC shortlist + exact re-rank over PACKED codes — shared by the
    * train-per-call [[pqTopK]] and the persisted-index
    * [[pqTopKFromIndex]] paths:
    *  1. every query's flattened distance table joins the packed codes
    *     as a broadcast (q × m·ksub doubles — driver-small);
    *  2. per candidate the ADC distance is ONE native [[AdcDistance]]
    *     lookup-sum inside whole-stage codegen (subspace order →
    *     deterministic), bounded top-`shortlist` per query via
    *     [[rankTopK]]'s partial-aggregating TopK — the n·q candidate
    *     stream never shuffles;
    *  3. only shortlist survivors fetch their full vectors (equi-join
    *     on id against `corpusVecs`) for exact cosine top-k.
    */
  private def pqSearch(queries: DataFrame, corpusVecs: DataFrame, packed: DataFrame,
                       codebooks: DataFrame, qId: String, cId: String,
                       qVec: String, cVec: String,
                       m: Int, dim: Int, k: Int, shortlist: Int): DataFrame = {
    val qtab = adcTable(queries, Seq(qId), qVec, codebooks, m, dim)
    // widen the streamed code side: |q| ADC lookup-sums per corpus row
    // (CPU ~ q×n, bytes ~ m ints/row — see bruteForceTopK)
    val adcScored = graft.core.Fan.widen(packed).crossJoin(broadcast(qtab))
      .filter(col(qId) =!= col(cId))
      .withColumn("score", -graft.plans.AdcDistance.adc(col("codes"), col("__dtab")))
    val short = rankTopK(adcScored, qId, cId, shortlist)
      .select(col(qId), col(cId))
    val exact = short
      .join(broadcast(queries.select(col(qId), col(qVec))), Seq(qId))
      .join(corpusVecs.select(col(cId), col(cVec)), Seq(cId))
      .withColumn("score", cosine(col(qVec), col(cVec)))
    rankTopK(exact, qId, cId, k)
  }

  /** Asymmetric-distance (ADC) PQ search with exact re-rank — the
    * standard billion-scale ANN shape (Jégou et al., PAMI 2011):
    * encode the corpus to packed codes, score every (query, candidate)
    * with the native ADC lookup-sum against a broadcast distance
    * table, shortlist, then re-rank only the shortlist with exact
    * cosine. The corpus' float vectors are touched ONLY in the re-rank
    * for shortlist-sized candidate sets; everything before runs on m
    * ints per vector and never shuffles the candidate stream.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
             qVec: String, cVec: String, codebooks: DataFrame,
             m: Int, dim: Int, k: Int, shortlist: Int): DataFrame = {
    val packed = pqEncodePacked(corpus, cId, cVec, codebooks, m, dim)
    pqSearch(queries, corpus, packed, codebooks, qId, cId, qVec, cVec,
      m, dim, k, shortlist)
  }

  /** Train and PERSIST a PQ index: frozen per-subspace codebooks at
    * `$path/codebooks` plus the packed per-vector codes as SEGMENT
    * 00000 of a [[SegmentedIndex]] tree (`$path/segments/NNNNN/{codes,
    * tombstones}`). `trainFilter` selects the training sample (at
    * 100 TB Lloyd's never sees the full corpus); encode still covers
    * every vector. The index stores m ints per vector — the corpus
    * floats are NOT copied — and refreshes by delta
    * ([[mergePqDelta]]): new vectors encode against the FROZEN
    * codebooks, no re-train, no corpus re-encode.
    */
  def savePqIndex(df: DataFrame, idCol: String, vecCol: String, path: String,
                  m: Int, dim: Int, ksub: Int, iters: Int,
                  trainFilter: Column = lit(true)): Unit = {
    val books = pqCodebooks(df.filter(trainFilter), idCol, vecCol, m, dim, ksub, iters)
    // codebook table and code segment are independent writes over
    // distinct dirs — overlap (§2.6)
    graft.core.Fan.overlap(Seq(
      () => books.write.mode("overwrite").parquet(s"$path/codebooks"),
      () => SegmentedIndex.createIndex(df.sparkSession, path, "codes",
        pqEncodePacked(df, idCol, vecCol, books, m, dim)
          .select(col(idCol).as("id"), col("codes")))))
  }

  /** O(delta) PQ refresh: delta vectors encode against the EXISTING
    * codebooks (the encode is per-row and order-free, so the new
    * codes are bit-identical to what a full re-encode would assign
    * them), land as code segment N, and re-ingested ids are
    * tombstoned. Same delta contract as [[mergeIvfDelta]]: one row per
    * id (asserted), NULL `vecCol` deletes. Live codes after any merge
    * chain equal one [[pqEncodePacked]] of the latest-version corpus
    * under the frozen codebooks. Compact with [[compactPqIndex]];
    * retrain ([[savePqIndex]]) when the delta share drifts —
    * [[SegmentedIndex.deltaFraction]] (`"codes"`) is the footer-only
    * trigger.
    */
  def mergePqDelta(delta: DataFrame, idCol: String, vecCol: String,
                   path: String, m: Int, dim: Int): Unit = {
    val spark = delta.sparkSession
    val books = spark.read.parquet(s"$path/codebooks")
    SegmentedIndex.mergeDeltaRows(spark, path, "codes",
      delta.select(col(idCol)),
      pqEncodePacked(delta.filter(col(vecCol).isNotNull),
          idCol, vecCol, books, m, dim)
        .select(col(idCol).as("id"), col("codes")))
  }

  /** Fold live code rows back to segment 00000 (answers unchanged). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String,
                     pinnedBy: Option[String] = None): Unit =
    SegmentedIndex.compactIndex(spark, path, "codes", pinnedBy)

  /** Tombstone-masked live (id, codes) rows of a persisted PQ index.
    * `asOf` pins the snapshot to segments <= asOf.
    */
  def pqCodes(spark: org.apache.spark.sql.SparkSession,
              path: String, asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "codes", asOf)

  /** PQ top-k against a persisted index (see [[savePqIndex]]): stored
    * live packed codes answer the ADC shortlist; only shortlist
    * survivors re-join the corpus by id for the exact re-rank.
    * Identical results to [[pqTopK]] with the same training
    * parameters — the index is a cache of deterministic computation,
    * not an approximation of it.
    */
  def pqTopKFromIndex(path: String, corpus: DataFrame, idCol: String,
                      vecCol: String, queryFilter: Column,
                      m: Int, dim: Int, k: Int, shortlist: Int,
                      asOf: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val books = spark.read.parquet(s"$path/codebooks")
    val packed = pqCodes(spark, path, asOf)
      .select(col("id").as("c_id"), col("codes"))
    val queries = corpus.filter(queryFilter)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val corpusVecs = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    pqSearch(queries, corpusVecs, packed, books, "q_id", "c_id",
      "q_vec", "c_vec", m, dim, k, shortlist)
  }

  // ---- IVF-PQ: coarse cells + product-quantized residuals ------------

  /** Per-element vector difference in double — the residual a vector
    * leaves against its cell centroid. zip_with is interpreted per
    * element, but residuals are computed once per corpus build/merge
    * (never in the query hot loop), and the left-to-right element
    * order is the oracle-replayable one.
    */
  private def residual(vec: Column, cent: Column): Column =
    zip_with(vec.cast("array<double>"), cent, (a, b) => a - b)

  /** [[kmeansAssign]] keeping the winning centroid vector (k-row
    * broadcast join-back on cid) — residual encoding needs it.
    */
  private def assignWithCentroid(df: DataFrame, idCol: String, vecCol: String,
                                 cents: DataFrame): DataFrame =
    kmeansAssign(df, idCol, vecCol, cents)
      .join(broadcast(cents), Seq("cid"))

  /** Train and PERSIST an IVF-PQ index (Jégou et al.'s IVFADC — the
    * billion-scale layout): a coarse k-means quantizer assigns every
    * vector to a cell, per-subspace PQ codebooks train on the
    * RESIDUALS (v − centroid(cell)) — residuals concentrate around 0,
    * which is what makes m·8-bit codes accurate enough at scale — and
    * each vector stores only (cell, m packed codes) in a
    * [[SegmentedIndex]] tree. Query cost = nprobe/clusters of the
    * corpus scanned as CODES (never floats), shortlist-sized exact
    * re-rank. All parameters frozen at build: refresh by
    * [[mergeIvfPqDelta]], re-train when
    * [[SegmentedIndex.deltaFraction]] (`"codes"`) says the sample no
    * longer describes the corpus.
    */
  def saveIvfPqIndex(df: DataFrame, idCol: String, vecCol: String, path: String,
                     clusters: Int, citers: Int, m: Int, dim: Int,
                     ksub: Int, piters: Int,
                     trainFilter: Column = lit(true)): Unit = {
    val cents = kmeansCentroids(df.filter(trainFilter), idCol, vecCol, clusters, citers)
    val res = assignWithCentroid(df, idCol, vecCol, cents)
      .withColumn("__res", residual(col(vecCol), col("centroid")))
      .select(col(idCol), col("cid").as("__cell"), col("__res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = pqCodebooks(res.filter(trainFilter), idCol, "__res",
        m, dim, ksub, piters)
      // the cell rides the encode projection (keep) — no id join-back
      val codes = pqEncodePacked(res, idCol, "__res", books, m, dim,
          keep = Seq("__cell"))
        .select(col(idCol).as("id"), col("__cell").as("cell"), col("codes"))
      // parameter tables and the code segment are independent writes
      // over distinct dirs — overlap (§2.6)
      graft.core.Fan.overlap(Seq(
        () => cents.write.mode("overwrite").parquet(s"$path/centroids"),
        () => books.write.mode("overwrite").parquet(s"$path/codebooks"),
        () => SegmentedIndex.createIndex(df.sparkSession, path, "codes", codes)))
    } finally res.unpersist(blocking = false)
  }

  /** O(delta) IVF-PQ refresh: delta rows assign to the FROZEN coarse
    * centroids and residual-encode against the FROZEN codebooks —
    * live (cell, codes) rows after any merge chain equal one fresh
    * frozen-parameter pass over the latest corpus, bit for bit. Same
    * delta contract as every other index (one row per id asserted,
    * NULL vector deletes); retract with [[SegmentedIndex.retract]],
    * compact with [[SegmentedIndex.compactIndex]](path, "codes").
    */
  def mergeIvfPqDelta(delta: DataFrame, idCol: String, vecCol: String,
                      path: String, m: Int, dim: Int): Unit = {
    val spark = delta.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    // assign + residual + encode are all per-row projections now
    // (NearestCellExpr / PqCodesExpr), and the cell rides the encode
    // projection (keep) — ONE consumer, one pass, so the r12 persist
    // (which guarded a coarse-assign window replayed by the encode's
    // id join-back) has nothing left to guard
    val res = assignWithCentroid(delta.filter(col(vecCol).isNotNull),
        idCol, vecCol, cents)
      .withColumn("__res", residual(col(vecCol), col("centroid")))
      .select(col(idCol), col("cid").as("__cell"), col("__res"))
    val rows = pqEncodePacked(res, idCol, "__res", books, m, dim,
        keep = Seq("__cell"))
      .select(col(idCol).as("id"), col("__cell").as("cell"), col("codes"))
    SegmentedIndex.mergeDeltaRows(spark, path, "codes",
      delta.select(col(idCol)), rows)
  }

  /** IVF-PQ top-k (IVFADC): per query, probe the `nprobe` nearest
    * cells by the exact coarse distance (cid tie-break — the same
    * ranking [[ivfSearch]] uses), build ONE flattened residual ADC
    * table per (query, probed cell), scan the stored codes of just
    * those cells (broadcast table join on `cell` — the code stream
    * never shuffles), shortlist via the bounded top-k aggregate, and
    * exact-cosine re-rank only the shortlist against the corpus
    * floats. At 100 TB the scan touches nprobe/clusters of the
    * corpus as m-byte codes; floats move only for shortlist rows.
    */
  def ivfPqTopKFromIndex(path: String, corpus: DataFrame, idCol: String,
                         vecCol: String, queryFilter: Column,
                         m: Int, dim: Int, k: Int, shortlist: Int,
                         nprobe: Int = 1, roundScale: Int = 6,
                         asOf: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val books = spark.read.parquet(s"$path/codebooks")
    val packed = SegmentedIndex.liveRows(spark, path, "codes", asOf)
      .select(col("id").as("c_id"), col("cell"), col("codes"))
    val q0 = corpus.filter(queryFilter)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    // nprobe nearest cells per query scan-side (NearestCellsExpr — the
    // same coarse distance/tie-break as the assignment; no crossJoin,
    // no per-query window exchange); the probed cell's centroid joins
    // back by int key (k-row broadcast) for the residual
    val qcells = q0
      .select(col("q_id"), col("q_vec"),
        explode(graft.plans.CentroidOps.nearestCells(
          col("q_vec"), collectCentroids(cents), nprobe)).as("cell"))
      .join(broadcast(cents.withColumnRenamed("cid", "cell")), Seq("cell"))
      .withColumn("__rq", residual(col("q_vec"), col("centroid")))
      .select(col("q_id"), col("cell"), col("__rq"))
    val qtab = adcTable(qcells, Seq("q_id", "cell"), "__rq", books, m, dim)
    val adcScored = packed.join(broadcast(qtab), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", -graft.plans.AdcDistance.adc(col("codes"), col("__dtab")))
    val short = rankTopK(adcScored, "q_id", "c_id", shortlist)
      .select(col("q_id"), col("c_id"))
    val exact = short
      .join(broadcast(q0), Seq("q_id"))
      .join(corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")), Seq("c_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    rankTopK(exact, "q_id", "c_id", k)
      .select(col("q_id"), col("c_id"),
        round(col("score"), roundScale).as("score"), col("rank"))
  }

  /** Bucketed (LSH) cosine top-k: candidates restricted to the query's
    * sign bucket → equi-join on bucket, then exact cosine rank. Recall
    * is approximate; cost drops from O(n·m) to O(n·m/2^bits) expected.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
              qVec: String, cVec: String, k: Int, bits: Int): DataFrame = {
    val qb = queries.withColumn("bucket", signBucket(col(qVec), bits))
      .withColumn("__qn", norm(col(qVec)))
    val cb = corpus.withColumn("bucket", signBucket(col(cVec), bits))
      .withColumn("__cn", norm(col(cVec)))
    val joined = cb
      .join(broadcast(qb), Seq("bucket"))
      .filter(col(qId) =!= col(cId))
      .withColumn("score", safeRatio(dot(col(qVec), col(cVec)), col("__qn") * col("__cn")))
    rankTopK(joined, qId, cId, k)
  }
}
