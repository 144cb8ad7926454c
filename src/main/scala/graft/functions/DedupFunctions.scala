package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication primitives for corpus-scale pipelines.
  *
  * Design for 100 TB:
  *  - signatures (minhash / simhash / fingerprint) are pure per-row
  *    `Column` expressions → computed inside whole-stage codegen during
  *    the scan, no shuffle;
  *  - candidate generation is an equi-join on band buckets (shuffle on a
  *    short hash key, heavily reduced data) — never an O(n²) cross join;
  *  - exact verification runs only on bucket collisions.
  *
  * Hashes are md5-based (not Spark's murmur3) so oracles in other
  * engines can reproduce signatures bit-for-bit.
  */
object DedupFunctions {

  /** k-component minhash signature over a token/shingle array: ONE md5
    * per token split into 64-bit halves (h1, h2), component i = min of
    * `(h1 + i·h2) mod 2^64` as 16-char lower hex (Kirsch–Mitzenmacher
    * double hashing — see [[graft.plans.MinHashSignature]]; md5-anchored
    * so every engine replays it). One array pass, codegen'd.
    */
  def minhashSignature(elems: Column, k: Int): Column =
    graft.plans.MinHashSignature.signature(elems, k)

  /** LSH band key: md5 over one band (rows per band) of the signature,
    * prefixed with the band id. Equal band key ⇒ candidate pair.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat(lit(s"band$b:"), array_join(slice(signature, b * rowsPerBand + 1, rowsPerBand), "|")))
    }: _*)

  /** SimHash over a token array, `bits` wide (≤ 32).
    * Bit i votes +1 when hex digit i of md5(token) has its high bit set
    * (digit ≥ 8), −1 otherwise; the sign of the per-bit sum is the
    * fingerprint bit. Hex-digit votes keep the signature reproducible in
    * any engine with md5 + substring (no integer hex parsing needed).
    *
    * Single pass: one `aggregate` folds a `bits`-wide vote vector over
    * the token array (zip_with accumulator), instead of one traversal
    * per bit.
    */
  def simhash(elems: Column, bits: Int): Column = {
    require(bits <= 32, "md5 has 32 hex digits")
    // native codegen'd expression (graft.plans.SimHashExpr) — one digest
    // + nibble scan per distinct token, bit-identical to the interpreted
    // aggregate/zip_with fold this used to compose
    graft.plans.SimHashExpr.simhash(elems, bits)
  }

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a Hamming BALL via pigeonhole
    * blocking — the classic scale path for simhash dedup (Manku et
    * al.'s multi-table scheme, WWW'07 shape): split the `bits`-wide
    * fingerprint into (maxHamming + 1) equal blocks; any pair within
    * Hamming distance ≤ maxHamming differs in at most maxHamming
    * blocks, so it matches EXACTLY on at least one — zero false
    * negatives by construction, and candidates reduce to equi-joins
    * on (block index, block value) instead of an all-pairs XOR scan.
    * Each candidate pays one exact `bit_count(xor)` verify. The
    * bucket-occupancy cap bounds any hot block value the same way
    * [[lshCandidatePairs]]'s cap does (over-cap content belongs on
    * the clustering path). Shuffles carry (id, fingerprint, block)
    * longs only.
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, elemsCol: Column,
                          bits: Int, maxHamming: Int,
                          maxBucket: Int = 10000): DataFrame =
    simhashPairsFromPostings(
      simhashBlockRows(df, idCol, elemsCol, bits, maxHamming),
      maxHamming, maxBucket, bits)

  /** The pigeonhole postings of the simhash Hamming tier: one
    * (id, sh, blk, bv) row per block per doc — the persistable side of
    * [[simhashHammingPairs]] and the subtable of the segmented simhash
    * index. Null token arrays (deleted content) yield NO rows — the
    * digest/band/winnow deletion contract.
    */
  def simhashBlockRows(df: DataFrame, idCol: String, elemsCol: Column,
                       bits: Int, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(maxHamming >= 1, "simhashBlockRows: need maxHamming >= 1")
    require(bits % blocks == 0,
      s"simhashBlockRows: bits ($bits) must split into $blocks equal blocks")
    val bpb = bits / blocks
    val mask = (1L << bpb) - 1
    df.select(col(idCol).as("id"),
        simhash(elemsCol, bits).cast("long").as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("id"), col("sh"),
        posexplode(array((0 until blocks).map(b =>
          shiftright(col("sh"), b * bpb).bitwiseAND(lit(mask))): _*))
          .as(Seq("blk", "bv")))
  }

  /** Hamming-ball pairs over a (id, sh, blk, bv) postings table — the
    * shared verify of the batch ([[simhashHammingPairs]]) and persisted
    * ([[simhashPairsFromIndex]]) tiers: occupancy cap per (blk, bv)
    * bucket, equi-join candidates, one exact bit_count(xor) each.
    */
  def simhashPairsFromPostings(keys: DataFrame, maxHamming: Int,
                               maxBucket: Int = 10000,
                               bits: Int = 32): DataFrame = {
    val blocks = maxHamming + 1
    require(bits % blocks == 0,
      s"simhashPairsFromPostings: bits ($bits) must split into $blocks blocks")
    val bpb = bits / blocks
    val bvMask = (1L << bpb) - 1
    val small = keys.groupBy("blk", "bv").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxBucket).select("blk", "bv")
    // FIRST-MATCH dedup instead of a pair-stream distinct: a near-dup
    // pair matches on up to `blocks` block values (identical
    // fingerprints match on all of them), so the naive pipeline pushes
    // a blocks×-duplicated candidate stream through a distinct — at
    // sf0.1 a 14M-row shuffle + two hash aggregates for 3.5M unique
    // pairs. Instead each id carries a bitmask of its UNCAPPED blocks
    // (capped buckets derive no candidates, so a capped block must not
    // suppress; the bitmask is one partitioned window over the ≤blocks
    // posting rows per id — linear at any scale), and a pair is EMITTED
    // ONLY at its smallest shared uncapped block. Equal block values put
    // both ids in the SAME bucket, so one side's uncapped bit decides
    // for the pair, and the shared prior block values come straight off
    // the two fingerprints: the whole check is `blocks−1` unrolled
    // integer terms inside whole-stage codegen. Exactly one row per
    // qualifying pair: no distinct, no pair-stream exchange. Output set
    // is bit-identical to the distinct it replaces.
    val sided = keys.join(small, Seq("blk", "bv"), "left_semi")
      .withColumn("__km", sum(expr("shiftleft(1L, blk)"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
    // see lshCandidatePairs: the block self-join multiplies byte-small
    // postings into millions of verify pairs — pin cluster-width
    // partitioning so the pair generation + exact verify parallelize
    val kept = graft.core.Fan.widenBy(sided, col("blk"), col("bv"))
    kept.as("x")
      .join(kept.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .filter(!(0 until blocks - 1).map { b =>
        (lit(b) < col("x.blk")) &&
          (shiftright(col("x.sh"), b * bpb).bitwiseAND(lit(bvMask)) ===
            shiftright(col("y.sh"), b * bpb).bitwiseAND(lit(bvMask))) &&
          (shiftright(col("x.__km"), b).bitwiseAND(lit(1L)) === lit(1L))
      }.reduce(_ || _))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hammingDistance(col("x.sh"), col("y.sh")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Jaccard similarity of two string arrays (exact, set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni === 0d, lit(1.0)).otherwise(inter / uni)
  }

  /** Exact-dup groups: one row per duplicate content key with members.
    * groupBy on md5(content) — the canonical scalable exact dedup (the
    * full text never shuffles, only its 128-bit digest + ids).
    */
  def exactDupGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol), md5(col(contentCol)).as("content_key"))
      .groupBy("content_key")
      .agg(count(col(idCol)).as("n_dups"), sort_array(collect_list(col(idCol))).as("members"))
      .filter(col("n_dups") > 1)

  /** MinHash-LSH candidate pairs: signature → band keys → explode →
    * self-join on band bucket → distinct (small_id, big_id) pairs.
    * Shuffle is on the 32-char band key only.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, elemsCol: Column,
                        k: Int = 16, bands: Int = 4,
                        maxBucket: Int = 10000): DataFrame = {
    val rows = k / bands
    // native one-pass signature (graft.plans.MinHashSignature) — same
    // bits as minhashSignature, one array traversal instead of k
    val sig  = df.select(col(idCol).as("id"),
      graft.plans.MinHashSignature.signature(elemsCol, k).as("sig"))
    // each posting row carries the id's FULL band-key array (__ks) so
    // the pair stage below can read the two sides' prior-band keys
    // without a second join — bands×32 chars per doc, still
    // catalog-slim (the "keys only" shuffle contract now means band
    // keys, plural)
    val keys = sig.select(col("id"), bandKeys(col("sig"), bands, rows).as("__ks"))
      .select(col("id"), col("__ks"), posexplode(col("__ks")).as(Seq("band", "band_key")))
    // bucket-occupancy cap (maxDf-style, like span dedup's stop-span
    // prune): a bucket of m docs emits m²/2 pairs, so ONE zipf
    // mega-cluster of 10⁴ near-identical docs would emit 5·10⁷ pairs
    // per band. Buckets above the cap are excluded from PAIRWISE
    // generation — ubiquitous near-identical content belongs on the
    // clustering path ([[lshBucketStarEdges]] → connected components),
    // where it costs m edges, not m². The count is map-side combined;
    // at sane bitsPerBand sizing the cap never binds on uniform data.
    val small = keys.groupBy(col("band_key")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxBucket).select("band_key")
    // FIRST-MATCH dedup instead of a pair-stream distinct (the
    // simhashPairsFromPostings scheme): a near-dup pair collides in up
    // to `bands` buckets (identical signatures in all of them), so the
    // naive pipeline pushes a bands×-duplicated candidate stream
    // through a distinct. Instead each id carries a bitmask of its
    // UNCAPPED bands (capped buckets derive no candidates, so a capped
    // band must not suppress; one partitioned window over the ≤bands
    // posting rows per id), and a pair is emitted ONLY at its smallest
    // shared uncapped band: bandKeys bakes the band index into the key
    // (`band$b:` prefix), so key equality at a prior band ⇒ same
    // bucket ⇒ one side's uncapped bit decides. `bands−1` unrolled
    // string-equality terms inside whole-stage codegen; exactly one row
    // per qualifying pair, no distinct, no pair-stream exchange —
    // output set bit-identical to the distinct it replaces.
    val sided = keys.join(small, Seq("band_key"), "left_semi")
      .withColumn("__km", sum(expr("shiftleft(1L, band)"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
    // pin the self-join's partitioning at cluster width when the posting
    // side is byte-small: the join multiplies its input into millions of
    // candidate rows (CPU ~ pairs), which AQE's bytes-based coalescing
    // cannot see — it would fold the tiny posting shuffle onto one task
    // and generate every pair serially. widenBy is the identity once
    // the postings are big enough to split on bytes, where AQE's own
    // sizing (and skew handling) take over.
    val kept = graft.core.Fan.widenBy(sided, col("band_key"))
    val pairs = kept.as("a")
      .join(kept.as("b"), Seq("band_key"))
      .filter(col("a.id") < col("b.id"))
    val firstMatch =
      if (bands <= 1) pairs
      else pairs.filter(!(0 until bands - 1).map { b =>
        (lit(b) < col("a.band")) &&
          (element_at(col("a.__ks"), b + 1) ===
            element_at(col("b.__ks"), b + 1)) &&
          (shiftright(col("a.__km"), b).bitwiseAND(lit(1L)) === lit(1L))
      }.reduce(_ || _))
    firstMatch.select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** MinHash-LSH star edges for CLUSTERING: per band bucket, connect
    * every member to the bucket's minimum id instead of to every other
    * member. Connected components over these edges are IDENTICAL to
    * components over [[lshCandidatePairs]]'s full pairwise set (a
    * bucket clique and a bucket star have the same connectivity), but
    * the edge count is ≤ n_docs × bands instead of Σ m²/2 per bucket —
    * linear vs quadratic in bucket size, which is the difference
    * between a window shuffle and a blow-up when a hot bucket holds
    * 10⁶ near-identical docs at 100 TB. Use [[lshCandidatePairs]] only
    * when each candidate pair is verified individually (exact-Jaccard
    * confirmation); use this when edges feed
    * [[graft.operators.ConnectedComponents]].
    */
  def lshBucketStarEdges(df: DataFrame, idCol: String, elemsCol: Column,
                         k: Int = 16, bands: Int = 4,
                         hotThreshold: Long =
                           graft.operators.ConnectedComponents.defaultHotThreshold,
                         mayHaveHot: Boolean = true): DataFrame = {
    val rows = k / bands
    val sig  = df.select(col(idCol).as("id"),
      graft.plans.MinHashSignature.signature(elemsCol, k).as("sig"))
    val keys = sig.select(col("id"),
      explode(bandKeys(col("sig"), bands, rows)).as("band_key"))
    // per-bucket min via map-side-combined agg + hot-key-salted
    // join-back — a window min would push a hot bucket's whole
    // membership through ONE sort task (the same straggler fixed in
    // ConnectedComponents' half-rounds; AQE skew splitting does not
    // apply to windows). Uniform buckets join plain, zero replication;
    // callers who can BOUND the corpus (catalog stats / parquet
    // footers) below the threshold pass mayHaveHot=false and skip the
    // hot machinery (its broadcast job) entirely.
    val mins = keys.groupBy(col("band_key"))
      .agg(min(col("id")).as("id_a"), count(lit(1)).as("__cnt"))
    val joined =
      if (mayHaveHot)
        graft.operators.Skew.saltedJoinHotOnly(keys, mins, "band_key", "__cnt",
          salts = 16, hotThreshold = hotThreshold)
      else keys.join(mins.drop("__cnt"), Seq("band_key"))
    joined
      .select(col("id_a"), col("id").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Incremental EXACT dedup: flag each batch row whose content digest
    * already exists in the corpus. This is the daily-ingest shape — the
    * corpus side reduces to DISTINCT 128-bit digests (an index that is
    * tiny relative to the corpus and can be persisted between runs);
    * the batch left-joins it on the digest. Text never shuffles, and
    * the corpus text is never re-read once the digest index exists.
    */
  def incrementalExactDup(corpus: DataFrame, batch: DataFrame,
                          idCol: String, contentCol: String): DataFrame = {
    val index = corpus.select(md5(col(contentCol)).as("__digest")).distinct()
      .withColumn("__hit", lit(1))
    batch.select(col(idCol), md5(col(contentCol)).as("__digest"))
      .join(index, Seq("__digest"), "left")
      .select(col(idCol), col("__hit").isNotNull.as("dup_in_corpus"))
  }

  /** Batch-vs-corpus incremental dedup: drop `docs` whose content
    * digest already exists in the persisted corpus digest index (the
    * table [[incrementalExactDup]]'s corpus side reduces to). One
    * left-anti join on the digest: text never shuffles, and the
    * corpus text is never re-read once the index exists. This guards
    * only against re-ingesting what the corpus already holds, not
    * against duplicates within `docs`.
    */
  def dedupAgainstCorpus(docs: DataFrame, contentCol: String,
                         corpusDigests: DataFrame,
                         digestCol: String = "digest"): DataFrame =
    docs
      .withColumn("__digest", md5(col(contentCol)))
      .join(corpusDigests.select(col(digestCol).as("__digest")).distinct(),
        Seq("__digest"), "left_anti")
      .drop("__digest")

  /** Incremental NEAR-dup candidates: batch docs that share a MinHash
    * band bucket with any corpus doc. `corpusBandIndex` is the
    * persisted (band_key, id) table from [[bandIndex]] — built once per
    * corpus snapshot, joined by every subsequent batch. The join key is
    * the 32-char band key; neither side's text moves. Returns one row
    * per (batch id, corpus id) candidate for exact-Jaccard verification.
    */
  def incrementalNearDupCandidates(corpusBandIndex: DataFrame,
                                   batch: DataFrame, idCol: String,
                                   elemsCol: Column, k: Int = 16,
                                   bands: Int = 4): DataFrame = {
    val keys = bandIndex(batch, idCol, elemsCol, k, bands)
    keys.as("b").join(corpusBandIndex.as("c"), Seq("band_key"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
  }

  /** The persistable LSH index side of incremental dedup: one
    * (band_key, id) row per band per doc.
    */
  def bandIndex(df: DataFrame, idCol: String, elemsCol: Column,
                k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val sig = df.select(col(idCol).as("id"),
      graft.plans.MinHashSignature.signature(elemsCol, k).as("sig"))
    sig.select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("band_key"))
  }

  // ---- persisted dedup indexes (digest / band / winnow) --------------
  //
  // Each is a single-subtable [[SegmentedIndex]]: build once
  // (`save*Index`), refresh by delta (`merge*Delta` — null content
  // deletes, re-ingest tombstones the old version), purge by id list
  // ([[SegmentedIndex.retract]]), compact periodically
  // ([[SegmentedIndex.compactIndex]]). This gives the LLM-side indexes
  // the same retraction semantics the clinical tables get from the F11
  // cascade: a GDPR-style purge is one tombstone-only segment, and the
  // retracted doc stops appearing in ANY candidate/dup answer without
  // rewriting a byte of index data.

  /** (id, digest) rows — md5 over content; null content → no row. */
  def digestRows(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(col(contentCol)).as("digest"))
      .filter(col("digest").isNotNull)

  /** Persist the exact-dup digest index ([[incrementalExactDup]]'s
    * corpus side, with ids kept so single docs can be purged).
    */
  def saveDigestIndex(df: DataFrame, idCol: String, contentCol: String,
                      path: String): Unit =
    SegmentedIndex.createIndex(df.sparkSession, path, "digests",
      digestRows(df, idCol, contentCol))

  def mergeDigestDelta(delta: DataFrame, idCol: String, contentCol: String,
                       path: String): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "digests",
      delta.select(col(idCol)), digestRows(delta, idCol, contentCol))

  /** Exact-dup hits of a batch against the live digest index: one row
    * per (batch id, matching live corpus id). Self-matches are NOT
    * filtered — callers probing with in-corpus ids exclude
    * `corpus_id === batch_id` themselves.
    */
  def digestHitsFromIndex(path: String, batch: DataFrame, idCol: String,
                          contentCol: String,
                          asOf: Int = Int.MaxValue): DataFrame =
    digestRows(batch, idCol, contentCol)
      .withColumnRenamed("id", "batch_id")
      .join(SegmentedIndex.liveRows(batch.sparkSession, path, "digests", asOf)
        .withColumnRenamed("id", "corpus_id"), Seq("digest"))
      .select(col("batch_id"), col("corpus_id"))

  /** Persist the MinHash-LSH band index ([[bandIndex]] rows). */
  def saveBandIndexPersisted(df: DataFrame, idCol: String, elemsCol: Column,
                             path: String, k: Int = 16, bands: Int = 4): Unit =
    SegmentedIndex.createIndex(df.sparkSession, path, "bands",
      bandIndex(df, idCol, elemsCol, k, bands))

  def mergeBandDelta(delta: DataFrame, idCol: String, elemsCol: Column,
                     path: String, k: Int = 16, bands: Int = 4): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "bands",
      delta.select(col(idCol)), bandIndex(delta, idCol, elemsCol, k, bands))

  /** Live (band_key, id) rows — feed [[incrementalNearDupCandidates]].
    * `asOf` pins the snapshot to segments <= asOf.
    */
  def bandIndexLive(spark: org.apache.spark.sql.SparkSession,
                    path: String, asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "bands", asOf)

  /** Persist the winnow fingerprint index ([[winnowIndex]] rows). */
  def saveWinnowIndexPersisted(df: DataFrame, idCol: String, textCol: String,
                               path: String, k: Int = 5, w: Int = 4): Unit =
    SegmentedIndex.createIndex(df.sparkSession, path, "hashes",
      winnowIndex(df, idCol, textCol, k, w))

  def mergeWinnowDelta(delta: DataFrame, idCol: String, textCol: String,
                       path: String, k: Int = 5, w: Int = 4): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "hashes",
      delta.select(col(idCol)), winnowIndex(delta, idCol, textCol, k, w))

  /** Live (id, h) winnow rows — feed [[spanContainmentFromIndex]] or
    * [[probeSpanHits]].
    */
  def winnowIndexLive(spark: org.apache.spark.sql.SparkSession,
                      path: String, asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "hashes", asOf)

  /** The simhash index's fingerprint geometry, persisted as a sibling
    * manifest file (`$path/simhash_params`, plain key=value — zero
    * Spark jobs; [[SegmentedIndex.cloneAt]] copies siblings). The
    * geometry is part of the index identity: first-match pair
    * suppression recomputes prior-block values from the stored `sh`
    * using `bits`, so reading an index at the wrong width silently
    * drops or duplicates pairs — merge and pair readers validate
    * against this instead (r12 ADVICE).
    */
  private def writeSimhashParams(spark: org.apache.spark.sql.SparkSession,
                                 path: String, bits: Int,
                                 maxHamming: Int): Unit = {
    val (fs, p) = SegmentedIndex.hfs(spark, s"$path/simhash_params")
    val out = fs.create(p, true)
    try out.write(s"bits=$bits\nmaxHamming=$maxHamming\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def readSimhashParams(spark: org.apache.spark.sql.SparkSession,
                                path: String): Option[(Int, Int)] = {
    val (fs, p) = SegmentedIndex.hfs(spark, s"$path/simhash_params")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val kv = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .flatMap { l => l.split("=", 2) match {
            case Array(k, v) => Some(k -> v.trim.toInt)
            case _ => None
          } }.toMap
        Some((kv("bits"), kv("maxHamming")))
      } finally in.close()
    }
  }

  private def requireSimhashParams(spark: org.apache.spark.sql.SparkSession,
                                   path: String, bits: Int,
                                   maxHamming: Int, who: String): Unit =
    readSimhashParams(spark, path).foreach { case (b, h) =>
      require(b == bits && h == maxHamming,
        s"$who: index at $path was built with bits=$b, maxHamming=$h " +
          s"but was asked for bits=$bits, maxHamming=$maxHamming — " +
          "mismatched geometry silently corrupts the pair set")
    }

  /** Persist the simhash pigeonhole index ([[simhashBlockRows]] rows) —
    * the fourth dedup index family, same SegmentedIndex lifecycle as
    * digest/band/winnow: O(delta) merge, GDPR retraction via
    * [[SegmentedIndex.retract]], asOf snapshot reads, compaction. The
    * fingerprint geometry (bits, maxHamming) is persisted alongside and
    * validated by merge/pair readers.
    */
  def saveSimhashIndex(df: DataFrame, idCol: String, elemsCol: Column,
                       path: String, bits: Int = 32,
                       maxHamming: Int = 3): Unit = {
    SegmentedIndex.createIndex(df.sparkSession, path, "blocks",
      simhashBlockRows(df, idCol, elemsCol, bits, maxHamming))
    writeSimhashParams(df.sparkSession, path, bits, maxHamming)
  }

  /** O(delta) refresh: new fingerprints are (maxHamming+1) posting rows
    * each; a re-ingested id tombstones its old fingerprint, null
    * content deletes (no rows derived). The merged live view replays
    * the batch tier bit for bit — same postings, same cap, same verify.
    * Fails loudly if (bits, maxHamming) disagree with the geometry the
    * index was built with.
    */
  def mergeSimhashDelta(delta: DataFrame, idCol: String, elemsCol: Column,
                        path: String, bits: Int = 32, maxHamming: Int = 3): Unit = {
    requireSimhashParams(delta.sparkSession, path, bits, maxHamming,
      "mergeSimhashDelta")
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "blocks",
      delta.select(col(idCol)),
      simhashBlockRows(delta, idCol, elemsCol, bits, maxHamming))
  }

  /** Live (id, sh, blk, bv) postings; `asOf` pins segments <= asOf. */
  def simhashIndexLive(spark: org.apache.spark.sql.SparkSession,
                       path: String, asOf: Int = Int.MaxValue): DataFrame =
    SegmentedIndex.liveRows(spark, path, "blocks", asOf)

  /** Hamming-ball pairs of the LIVE index — bit-identical to
    * [[simhashHammingPairs]] over the same corpus state (same postings,
    * same occupancy cap, same exact verify), with zero text reads: the
    * operational shape once fingerprints are persisted. `bits` must
    * match the geometry the index was built with (validated against the
    * persisted manifest — first-match suppression recomputes prior
    * block values from `sh` at this width, so a mismatch would silently
    * drop or duplicate pairs).
    */
  def simhashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, maxHamming: Int,
                            maxBucket: Int = 10000,
                            asOf: Int = Int.MaxValue,
                            bits: Int = 32): DataFrame = {
    requireSimhashParams(spark, path, bits, maxHamming,
      "simhashPairsFromIndex")
    simhashPairsFromPostings(
      simhashIndexLive(spark, path, asOf).select("id", "sh", "blk", "bv"),
      maxHamming, maxBucket, bits)
  }

  /** Hamming-ball partners of each probe doc among the index side:
    * occupancy cap on the INDEX buckets (the [[probeSpanHits]] shape),
    * block equi-join, exact verify. Returns distinct
    * (probe_id, corpus_id, hamming); self-pairs are not filtered (see
    * [[digestHitsFromIndex]]).
    */
  def probeSimhashHits(index: DataFrame, probes: DataFrame,
                       maxHamming: Int, maxBucket: Int = 10000): DataFrame = {
    val keep = index.groupBy("blk", "bv").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxBucket).select("blk", "bv")
    val pruned = index.join(keep, Seq("blk", "bv"), "left_semi")
    probes.select(col("id").as("probe_id"), col("sh").as("__psh"),
        col("blk"), col("bv"))
      .join(pruned.select(col("id").as("corpus_id"), col("sh").as("__csh"),
        col("blk"), col("bv")), Seq("blk", "bv"))
      .select(col("probe_id"), col("corpus_id"),
        hammingDistance(col("__psh"), col("__csh")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Span-sharing partners of each probe doc among an index's docs:
    * stop-span prune (df computed on the INDEX side) then an equi-join
    * on the hash — the one-sided [[spanContainmentFromIndex]], the
    * ingest-probe shape. Returns (probe_id, corpus_id, n_shared);
    * self-pairs are not filtered (see [[digestHitsFromIndex]]).
    */
  def probeSpanHits(index: DataFrame, probes: DataFrame,
                    maxDf: Int, minShared: Long): DataFrame = {
    val keep = index.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val pruned = index.join(keep, Seq("h"))
    probes.select(col("id").as("probe_id"), col("h"))
      .join(pruned.select(col("id").as("corpus_id"), col("h")), Seq("h"))
      .groupBy("probe_id", "corpus_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicated-PASSAGE detection (MOSS-style): doc pairs sharing
    * winnowing-selected rolling hashes. Whole-doc dedup misses a 100 TB
    * corpus's real failure mode — distinct pages sharing long boilerplate
    * or quoted passages; two docs sharing any run of ≥ w+k−1 characters
    * share a selected hash by the winnowing guarantee.
    *
    * Returns (id_a, id_b, n_shared, containment) where containment =
    * shared / min(|A|, |B|) — 1.0 means the smaller doc's fingerprint
    * is fully contained in the larger's.
    *
    * Scale shape: explode the ~len/w selected hashes, drop hashes
    * shared by more than `maxDf` docs FIRST (ubiquitous boilerplate —
    * the stop-span guard that keeps any single hash bucket from going
    * quadratic), then equi-join ids on the hash. Only (id, hash) longs
    * ever shuffle.
    */
  def spanContainment(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, w: Int = 4, maxDf: Int = 50,
                      minShared: Long = 2L): DataFrame =
    spanContainmentFromIndex(winnowIndex(df, idCol, textCol, k, w),
      maxDf, minShared)

  /** The persistable winnow fingerprint index: one (id, h) row per
    * selected hash per doc. Build once per corpus snapshot, persist or
    * write it out, and feed [[spanContainmentFromIndex]] — the
    * containment analysis then never re-reads document text. (The
    * one-shot [[spanContainment]] convenience re-computes this subtree
    * once per plan consumer — 4 text passes; production callers should
    * materialize the index.)
    */
  def winnowIndex(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4): DataFrame =
    // NOT widened (unlike gramPostings): this producer also runs on
    // byte-tiny PROBE batches and inside index-build writes, where the
    // widen exchange (and its keyless-repartition local sort of full
    // text rows, SPARK-23207) costs more than the winnow pass it would
    // parallelize — measured +0.9 s on dedup_retract's build+probe
    // phases. The quadratic consumer is already cluster-pinned at its
    // own site (spanContainmentFromIndex's widenBy on the h-join).
    df.select(col(idCol).as("id"),
        explode(graft.plans.WinnowExpr.winnow(col(textCol), k, w)).as("h"))

  /** Span-containment pairs from a prebuilt (id, h) winnow index — see
    * [[spanContainment]] for semantics. Fingerprint sizes derive from
    * the index itself (a groupBy on id), so text is never touched here;
    * every shuffle carries (long, long) rows.
    */
  def spanContainmentFromIndex(index: DataFrame, maxDf: Int,
                               minShared: Long): DataFrame = {
    val sel = index.select(col("id"), col("h"))
    val sizes = sel.groupBy("id").agg(count(lit(1)).as("n"))
    val keep = sel.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    // pin cluster-width partitioning on the pair-multiplying self-join
    // (see lshCandidatePairs)
    val pruned = graft.core.Fan.widenBy(sel.join(keep, Seq("h")), col("h"))
    val shared = pruned.as("a")
      .join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("containment"))
  }

  /** Fuzzy entity-name matching (record linkage): DISTINCT name pairs
    * within `maxDist` edit distance, found by token blocking — the
    * classic prefix-filtering shape, never an all-pairs cross join.
    *
    * RECALL CONTRACT: a pair is a candidate only if the two names
    * share at least one exact whitespace token with document frequency
    * ≤ `maxDf` in the name catalog. Pairs whose edit distance comes
    * entirely from single-token typos with no other shared token
    * ("acme"/"acne") and pairs whose only shared tokens exceed the
    * `maxDf` cap are NOT returned — that is the standard
    * blocking-recall trade, not a bug (a character-q-gram blocking
    * tier would recover single-token names at extra candidate cost).
    * The gate oracle replays the identical blocking heuristic.
    *
    * Scale shape: dedup to the NAME CATALOG first (entity catalogs are
    * orders of magnitude smaller than the rows that mention them),
    * block on shared tokens with a document-frequency cap (`maxDf` —
    * a stopword-ish token that appears in half the catalog would
    * produce a quadratic block; capped tokens simply don't generate
    * candidates, the standard rare-token prefix filter), then verify
    * only blocked candidates with `levenshtein` (codegen'd, exact).
    * Shuffles carry (token, name) and the reduced candidate pairs —
    * both catalog-sized, independent of the corpus row count.
    */
  def fuzzyNamePairs(df: DataFrame, textCol: String,
                     maxDist: Int, maxDf: Long): DataFrame = {
    require(maxDist >= 1, "fuzzyNamePairs: need maxDist >= 1")
    require(maxDf >= 1, "fuzzyNamePairs: need maxDf >= 1")
    val names = df.select(lower(col(textCol)).as("name")).distinct()
    val tok = names.select(col("name"),
      explode(array_distinct(split(col("name"), "\\s+"))).as("t"))
    val keep = tok.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("t")
    val blocked = graft.core.Fan.widenBy(tok.join(keep, Seq("t")), col("t"))
    // widen the verify stage too: the distinct's output is byte-tiny,
    // so AQE would fold the per-pair levenshtein onto one task
    val cand = graft.core.Fan.widen(blocked.as("a")
      .join(blocked.as("b"),
        col("a.t") === col("b.t") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct())
    cand
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("lev") <= maxDist)
      .orderBy("name_a", "name_b")
  }

  /** Exact dedup where the survivor is the BEST copy, not the first:
    * within each md5(text) group the row with the highest `scoreCol`
    * wins (ties break to the smallest id) — real pipelines keep the
    * highest-quality / longest-metadata mention of a duplicated page,
    * not whichever crawl happened to assign the smaller id. Returns
    * ALL input rows plus a `keep` flag; rows with NULL text are never
    * survivors (`keep = false`) but are returned, not dropped — a NULL
    * digest would otherwise silently vanish through the winner
    * equi-join.
    *
    * Scale shape: the winner per digest is a PARTIAL AGGREGATE
    * (`min(struct(-score, id))` — map-side combine absorbs mega-dup
    * clusters, the [[graft.functions.Curation.dedupSegmentsAcross]]
    * discipline), joined back on the 16-byte digest; text never
    * shuffles twice.
    */
  def dedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                    scoreCol: Column): DataFrame = {
    val keyed = docs
      .withColumn("__ck", coalesce(md5(col(textCol)), lit("")))
      .withColumn("__s", scoreCol.cast("double"))
    val winners = keyed.filter(col(textCol).isNotNull).groupBy("__ck")
      .agg(min(struct((col("__s") * lit(-1.0)).as("__ns"),
        col(idCol).as("__wid"))).as("__w"))
    keyed.join(winners, Seq("__ck"), "left")
      .withColumn("keep",
        coalesce(col(idCol) === col("__w").getField("__wid"), lit(false)))
      .drop("__ck", "__s", "__w")
  }

  /** Character-q-gram blocking tier of [[fuzzyNamePairs]] — recovers
    * the pairs the token tier's recall contract documentedly misses:
    * single-token names within edit distance ("acme"/"acne" share no
    * token but share 2-grams) and pairs whose only shared tokens
    * exceed the df cap. Two names are candidates iff they share at
    * least one q-gram with catalog document frequency ≤ `maxDf`; a
    * free length filter (`|len(a) − len(b)| > maxDist ⇒ lev > maxDist`)
    * prunes before the exact `levenshtein` verify. Names shorter than
    * `q` contribute themselves as their single gram, so no name is
    * unblockable.
    *
    * Scale shape: identical prefix-filter discipline to the token
    * tier — dedup to the name catalog first, grams explode
    * catalog-side (codegen'd `transform`/`substring`, no UDF), the df
    * cap kills stop-grams (q-grams are denser than tokens, so the cap
    * binds sooner — it is the knob that keeps every block
    * sub-quadratic), and the shuffles carry (gram, name) pairs plus
    * the reduced candidate set, both catalog-sized.
    */
  def fuzzyNamePairsQgram(df: DataFrame, textCol: String, maxDist: Int,
                          q: Int, maxDf: Long): DataFrame = {
    require(maxDist >= 1, "fuzzyNamePairsQgram: need maxDist >= 1")
    require(q >= 1, "fuzzyNamePairsQgram: need q >= 1")
    require(maxDf >= 1, "fuzzyNamePairsQgram: need maxDf >= 1")
    val names = df.select(lower(col(textCol)).as("name")).distinct()
    val grams = names.select(col("name"),
      explode(when(length(col("name")) <= q, array(col("name")))
        .otherwise(array_distinct(expr(
          s"transform(sequence(1, length(name) - $q + 1)," +
            s" i -> substring(name, i, $q))")))).as("g"))
    val keep = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val blocked = graft.core.Fan.widenBy(grams.join(keep, Seq("g")), col("g"))
    graft.core.Fan.widen(blocked.as("a")
      .join(blocked.as("b"),
        col("a.g") === col("b.g") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      // the free length filter runs BEFORE the distinct: q-gram blocks
      // are denser than token blocks, so the raw candidate stream is
      // the cost center — pruning length-incompatible pairs here
      // shrinks the distinct's shuffle by every pair the levenshtein
      // could never accept (|len(a) − len(b)| > maxDist ⇒ lev > maxDist)
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .distinct())
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("lev") <= maxDist)
      .orderBy("name_a", "name_b")
  }

  /** Longest contaminated SPAN per (train doc, eval doc) — the
    * decontamination report real pipelines publish (GPT-3 appendix C /
    * PaLM style): not just "shares an n-gram" but HOW LONG the shared
    * run of text is, in tokens. A run of L consecutive matching n-gram
    * starts is a span of L + n − 1 shared tokens.
    *
    * Mechanics: positional n-gram hashes on both sides
    * ([[graft.plans.ShingleHashExpr]] — the array index IS the gram's
    * token start). Matches land on a DIAGONAL (tpos − epos constant)
    * exactly when the shared grams are consecutive in BOTH documents,
    * so the longest shared run is the longest consecutive tpos run
    * within one (train, eval, diagonal) group — computed by an in-row
    * fold over the group's sorted positions, never a self-join.
    *
    * Scale shape: the eval side is benchmark-sized → broadcast (hashes
    * only, ~8 bytes per gram); the corpus side explodes scan-side and
    * shuffles only matched (ids, diag, pos) longs — for a typical
    * corpus almost everything is filtered AT the broadcast-hash join.
    * Spans below `minSpanTokens` are dropped (with fewer than n tokens
    * a document hashes as one whole-text gram, so keep
    * `minSpanTokens > n` to exclude degenerate short-doc "spans").
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String,
                         n: Int, minSpanTokens: Int): DataFrame = {
    require(n >= 2, "contaminationSpans: need n >= 2")
    require(minSpanTokens >= n, "minSpanTokens must be >= n")
    def positional(df: DataFrame, id: String, pos: String) =
      df.select(col(idCol).as(id),
        posexplode(graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n))
          .as(Seq(pos, "sh")))
    // widen the train side: the positional gram digest + broadcast probe
    // is CPU-dense per text byte (see Fan.widen); the eval side stays a
    // benchmark-sized broadcast
    val matches = positional(graft.core.Fan.widen(train), "doc_id", "tpos")
      .join(broadcast(positional(eval, "eval_id", "epos")), "sh")
      .select(col("doc_id"), col("eval_id"),
        (col("tpos") - col("epos")).as("diag"), col("tpos"))
    // (doc, eval, diag, tpos) is unique by construction (epos is
    // determined by the diagonal), so the sorted collect is a set
    val runs = matches
      .groupBy("doc_id", "eval_id", "diag")
      .agg(sort_array(collect_list(col("tpos"))).as("ps"))
      .select(col("doc_id"), col("eval_id"),
        expr("""aggregate(ps,
                  named_struct('best', 1, 'cur', 1, 'prev', ps[0]),
                  (s, x) -> named_struct(
                    'best', greatest(s.best,
                              IF(x = s.prev + 1, s.cur + 1, 1)),
                    'cur',  IF(x = s.prev + 1, s.cur + 1, 1),
                    'prev', x),
                  s -> s.best)""").as("run"))
    runs.groupBy("doc_id", "eval_id")
      .agg(max(col("run")).as("max_run"))
      .select(col("doc_id"), col("eval_id"),
        (col("max_run") + lit(n - 1)).cast("long").as("span_tokens"))
      .where(col("span_tokens") >= minSpanTokens)
      .orderBy("doc_id", "eval_id")
  }

  /** ExactSubstr-style repeated-substring discovery WITHIN a corpus
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — remove substrings that occur verbatim more than
    * once anywhere in the training set, including inside the same
    * document). n-gram approximation: a repeated substring of >= n
    * tokens repeats every one of its n-grams, so token positions whose
    * positional n-gram hash reaches `minCount` occurrences CORPUS-WIDE
    * are "covered"; overlapping/adjacent covered ranges merge into
    * maximal spans (gaps-and-islands over sorted gram starts, folded
    * IN-ROW — no per-doc window, no position self-join).
    *
    * Scale shape: one scan explodes positional hashes
    * ([[graft.plans.ShingleHashExpr.shingleHashesSeq]], codegen'd); the
    * occurrence count and the count-filter join are BOTH partitioned by
    * the gram hash (the join is co-partitioned — one shuffle each); the
    * per-doc island fold runs on a (doc, sorted positions) row. Every
    * shuffled row is a pair of longs; text never shuffles.
    *
    * Returns one row per document that HAS a repeated span:
    * `(idCol, spans array<struct<s int, e int>>, n_tokens int)` with
    * `[s, e)` token-index ranges capped at the document's token count
    * (a sub-n-token document hashes as one whole-text gram; the cap
    * keeps its span honest).
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, minCount: Long = 2L): DataFrame = {
    require(n >= 2, "repeatedSpans: need n >= 2")
    require(minCount >= 2L, "repeatedSpans: minCount < 2 covers every position")
    spansFromGrams(
      gramPostings(docs, idCol, textCol, n).withColumnRenamed("id", idCol),
      idCol, n, minCount)
  }

  /** The (id, h, p, ntk) positional gram rows the ExactSubstr pass
    * runs on — also the persistable subtable of
    * [[saveRepeatedSpanIndex]] (ntk rides along as a per-doc constant
    * column: RLE makes it ~free, and the short-document span cap needs
    * it without re-reading text). Null text yields no rows — the
    * deletion contract of [[mergeRepeatedSpanDelta]].
    */
  def gramPostings(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    // widen first: the per-doc gram digesting + explode is CPU-dense
    // relative to the text bytes — one scan split must not serialize it
    graft.core.Fan.widen(docs).select(col(idCol).as("id"),
        size(split(trim(col(textCol)), "\\s+")).as("ntk"),
        posexplode(graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n))
          .as(Seq("p", "h")))
      .select("id", "h", "p", "ntk")

  /** Covered-position islands from (id, h, p, ntk) gram rows — shared
    * verbatim by the scan path ([[repeatedSpans]]) and the persisted
    * index path ([[repeatedSpanStatsFromIndex]]), so the two are
    * bit-identical by construction.
    */
  private def spansFromGrams(grams: DataFrame, idCol: String, n: Int,
                             minCount: Long): DataFrame = {
    val hot = grams.groupBy("h").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select("h")
    // co-partitioned equi-join on h (both sides just shuffled on it)
    grams.join(hot, "h")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        max(col("ntk")).as("n_tokens"))
      .select(col(idCol),
        expr(s"""transform(
                   aggregate(ps,
                     cast(array() as array<struct<s: int, e: int>>),
                     (acc, x) -> IF(size(acc) > 0 AND x <= element_at(acc, -1).e,
                       concat(slice(acc, 1, size(acc) - 1),
                              array(named_struct('s', element_at(acc, -1).s,
                                                 'e', x + $n))),
                       concat(acc, array(named_struct('s', x, 'e', x + $n))))),
                   sp -> named_struct('s', sp.s, 'e', least(sp.e, n_tokens)))""")
          .as("spans"),
        col("n_tokens"))
  }

  private def shapeGrams(rows: DataFrame): DataFrame =
    rows.repartitionByRange(col("h")).sortWithinPartitions(col("h"), col("id"))

  /** Persist the ExactSubstr gram postings as a [[SegmentedIndex]]
    * tree (subtable `grams`, h-range-partitioned and (h, id)-sorted so
    * the count and count-filter join read clustered files). Build once,
    * refresh by delta ([[mergeRepeatedSpanDelta]]) — the audit query
    * then never re-tokenizes the corpus. The postings are larger than
    * the text (~20 bytes/gram) — the same order as the suffix array the
    * reference algorithm builds; that is the honest price of an
    * O(delta)-refreshable duplicated-substring pass.
    */
  def saveRepeatedSpanIndex(docs: DataFrame, idCol: String, textCol: String,
                            path: String, n: Int): Unit = {
    require(n >= 2, "saveRepeatedSpanIndex: need n >= 2")
    SegmentedIndex.createIndex(docs.sparkSession, path, "grams",
      shapeGrams(gramPostings(docs, idCol, textCol, n)))
  }

  /** O(delta) refresh: tombstone replaced ids, append the delta's gram
    * rows as segment N. One row per id per delta (asserted); null
    * text = deletion. Counts are derived from
    * the LIVE rows at query time, so a replaced document's old grams
    * stop counting the moment the segment commits — arrivals,
    * re-ingests, and deletions all shift span stats corpus-wide
    * exactly as a rebuild would.
    */
  def mergeRepeatedSpanDelta(delta: DataFrame, idCol: String, textCol: String,
                             path: String, n: Int): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "grams",
      delta.select(col(idCol)),
      shapeGrams(gramPostings(delta, idCol, textCol, n)))

  /** GDPR purge: tombstone `ids` — their grams stop counting (and so
    * may un-cover OTHER documents' spans) immediately.
    */
  def retractRepeatedSpanIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, ids: DataFrame): Unit =
    SegmentedIndex.retract(spark, path, ids, Seq("grams"))

  /** The audit table from the LIVE index (tombstone-masked, optional
    * `asOf` pin) — same output as [[repeatedSpanStats]] over the
    * equivalent corpus, bit for bit, with zero text reads. `n` is
    * frozen at build time; pass the same value used to build.
    */
  def repeatedSpanStatsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 path: String, n: Int,
                                 minCount: Long = 2L,
                                 asOf: Int = Int.MaxValue): DataFrame =
    spanStats(spansFromGrams(
      SegmentedIndex.liveRows(spark, path, "grams", asOf), "id", n, minCount),
      "id")

  private def spanStats(spans: DataFrame, idCol: String): DataFrame =
    spans.select(col(idCol),
        size(col("spans")).cast("long").as("n_spans"),
        expr("aggregate(spans, 0L, (a, sp) -> a + (sp.e - sp.s))").as("span_tokens"),
        expr("aggregate(spans, 0L, (a, sp) -> greatest(a, cast(sp.e - sp.s as bigint)))")
          .as("max_span"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy(idCol)

  /** Per-document integer report over [[repeatedSpans]]: span count,
    * covered-token total, longest span, document token count — the
    * audit table behind a repeated-substring removal pass (how much of
    * the corpus is verbatim-duplicated text, and where it concentrates).
    * Integer-only output by construction.
    */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minCount: Long = 2L): DataFrame =
    spanStats(repeatedSpans(docs, idCol, textCol, n, minCount), idCol)

  /** The removal pass itself: every document rewritten with its
    * repeated spans cut out (Lee et al. 2022 drop the duplicated bytes,
    * keeping the flanks). Output is `(idCol, clean_text)` for EVERY
    * input document — unaffected documents come back whitespace- and
    * case-normalized (single-space-joined lowercased tokens, the same
    * normalization the gram hashes use), fully-covered documents come
    * back empty. The rewrite is in-row (token filter against the doc's
    * own span list); the only joins are [[repeatedSpans]]'s hash-keyed
    * ones plus one id-keyed left join back to the corpus.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, minCount: Long = 2L): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, n, minCount)
      .select(col(idCol), col("spans"))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        expr(s"""array_join(
                   transform(
                     filter(
                       transform(split(trim(lower(`$textCol`)), '\\\\s+'),
                                 (t, i) -> named_struct('t', t, 'i', i)),
                       x -> spans IS NULL OR
                            NOT exists(spans,
                                       sp -> x.i >= sp.s AND x.i < sp.e)),
                     x -> x.t),
                   ' ')""").as("clean_text"))
  }

  // ------------------- Bloom-filter decontamination -------------------

  /** Distinct word n-gram STRINGS of a document (space-joined, over the
    * lowercased whitespace tokenization); documents shorter than `n`
    * tokens contribute their whole token sequence as one gram. The
    * string form (vs [[graft.plans.ShingleHashExpr]]'s 64-bit hashes)
    * is what the Bloom positions are salted-md5'd from, so any engine
    * replays the filter's exact bit pattern.
    */
  def textShingles(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
      .otherwise(array(array_join(toks, " ")))
  }

  /** The `seeds` Bloom bit positions of one key, by Kirsch–Mitzenmacher
    * double hashing over ONE md5 (the same trick [[minhashSignature]]
    * rides): h1 = hex digits 1-8, h2 = hex digits 9-16, position_s =
    * (h1 + s·h2) mod `mBits`. One digest per key however many probe
    * functions — 3× cheaper on the corpus scan than salted per-seed
    * digests — and still pure md5 + substring arithmetic, so an
    * external oracle reproduces the positions (and therefore the
    * filter's false positives) bit-for-bit.
    */
  def bloomPositions(key: Column, seeds: Int, mBits: Int): Seq[Column] = {
    val d = md5(key)
    val h1 = conv(substring(d, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(d, 9, 8), 16, 10).cast("long")
    (0 until seeds).map { s =>
      pmod(h1 + lit(s.toLong) * h2, lit(mBits.toLong))
    }
  }

  /** Build the packed bitset (little-endian within each 64-bit word)
    * from the distinct n-gram shingles of `eval`. The returned array is
    * `mBits / 64` longs — e.g. 32 KiB at 2^18 bits — independent of
    * corpus size: THIS is what makes Bloom decontamination the 100 TB
    * path (the exact-join variant, [[graft.SparkEntry]]'s
    * `decontam_overlap`, broadcasts every eval shingle; the Bloom
    * variant ships a constant-size bitmask into the scan). The distinct
    * eval positions are an aggregation (map-side combined) whose result
    * is driver-small by construction: ≤ seeds · |eval shingles| longs.
    */
  def bloomBitsetFromEval(eval: DataFrame, textCol: String, n: Int,
                          seeds: Int, mBits: Int): Array[Long] = {
    require(seeds >= 1, "bloom: need seeds >= 1")
    require(mBits >= 64 && mBits % 64 == 0,
      s"bloom: mBits must be a positive multiple of 64, got $mBits")
    require(4294967296L % mBits == 0,
      s"bloom: mBits must divide 2^32 exactly (power of two) so the " +
        s"32-bit md5 bucket maps uniformly, got $mBits")
    val sh = eval.select(explode(textShingles(col(textCol), n)).as("__sh"))
      .distinct()
    val pos = sh
      .select(explode(array(bloomPositions(col("__sh"), seeds, mBits): _*))
        .as("__p"))
      .distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    pos.foreach { p =>
      words((p >>> 6).toInt) |= (1L << (p & 63L).toInt)
    }
    words
  }

  /** Membership test against a LITERAL bitset column (the
    * `typedLit(words)` of [[bloomBitsetFromEval]]'s result), given the
    * key's md5 hex DIGEST: all `seeds` double-hashed positions set.
    * Taking the digest (not the key) lets a caller inside an
    * interpreted HOF lambda — where Catalyst does no common-
    * subexpression elimination — pay for ONE md5 per element and reuse
    * it across every probe. Word index and in-word shift are exact
    * Long arithmetic; the lookup is an `element_at` into the literal
    * array — zero joins anywhere.
    */
  def bloomContainsDigest(bits: Column, digest: Column, seeds: Int,
                          mBits: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val h1 = conv(substring(digest, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(digest, 9, 8), 16, 10).cast("long")
    (0 until seeds).map { s =>
      val p = pmod(h1 + lit(s.toLong) * h2, lit(mBits.toLong))
      val word = element_at(bits,
        (Sampling.longFloorDiv(p, lit(64L)) + lit(1L)).cast("int"))
      val shifted = ColumnBridge.column(ShiftRightUnsigned(
        ColumnBridge.eagerExpression(word),
        ColumnBridge.eagerExpression(pmod(p, lit(64L)).cast("int"))))
      shifted.bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** [[bloomContainsDigest]] over a raw key (hashes it first). */
  def bloomContains(bits: Column, key: Column, seeds: Int, mBits: Int): Column =
    bloomContainsDigest(bits, md5(key), seeds, mBits)

  /** Bloom-filter benchmark decontamination: flag every training
    * document sharing (probably) any word `n`-gram with the eval set.
    * Two-phase shape:
    *   1. one pass over the (small) eval side builds a `mBits`-bit
    *      Bloom bitset of its distinct shingles ([[bloomBitsetFromEval]]);
    *   2. the corpus pass tests each document's distinct shingles
    *      against the bitset ENTIRELY scan-side — `filter(shingles,
    *      bloomContains)` over a literal array, no join, no shuffle,
    *      no exchange of any kind on the 100 TB side.
    * One-sided error: no false negatives ever (every true overlap is
    * flagged — the guarantee decontamination needs); false positives at
    * the classic `(1 - e^(-seeds·n/mBits))^seeds` rate surface as
    * over-flagging, and are themselves deterministic and
    * engine-reproducible because the positions are md5-derived. Output
    * per training doc: `(idCol, n_shingles, n_hit, flagged)` — all
    * integer/boolean, no floating point in the contract.
    *
    * Reference anchor: the exact-join decontamination this
    * approximates is `decontam_overlap`; the Bloom tier is the
    * composition real pipelines run first at scale (eval suites hash to
    * a few MB regardless of corpus size).
    */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int, seeds: Int,
                         mBits: Int): DataFrame = {
    val words = bloomBitsetFromEval(eval, textCol, n, seeds, mBits)
    // native fused pass: tokenize → distinct grams → md5 probe, one
    // codegen'd call per row (the composed HOF chain, kept as the
    // reference form in BloomDecontamSpec, interprets its lambdas per
    // element — isolated sf0.1 timing 4.5 s composed vs 0.8 s fused,
    // bitset build job included in both)
    val st = graft.plans.BloomShingleStatsExpr
      .stats(col(textCol), n, seeds, mBits, words)
    train
      .select(col(idCol), st.as("__st"))
      .select(col(idCol),
        col("__st.n_shingles").as("n_shingles"),
        col("__st.n_hit").as("n_hit"))
      .withColumn("flagged", col("n_hit") > 0L)
  }
}
