package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation composites: the per-document decisions a training-data
  * pipeline makes before tokenization, expressed as single-pass Spark
  * plans over the `documents`-shaped tables.
  */
object Curation {

  /** One-pass keep/drop decision: language filter, quality floor, exact
    * dedup (first id per md5(text) wins). The only exchange is the dedup
    * hash shuffle on the 128-bit digest; language-ID and quality are
    * codegen'd per-row expressions. Reason precedence mirrors the usual
    * pipeline order: lang → quality → exact_dup.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             keepLangs: Seq[String], minQuality: Double): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    docs
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("__dup_rank", row_number().over(w))
      .withColumn("drop_reason",
        // null-safe: null text → null lang/quality must DROP, not leak
        // through three-valued logic as keep
        when(!coalesce(col("lang_pred").isInCollection(keepLangs), lit(false)), lit("lang"))
          .when(coalesce(col("quality") < minQuality, lit(true)), lit("quality"))
          .when(col("__dup_rank") > 1, lit("exact_dup"))
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("drop_reason").isNull)
      .drop("__dup_rank")
  }

  /** Sequence packing by contiguous fill ("concat-then-chunk", the
    * GPT-style packing pass): within each shard, documents in a total
    * order accumulate tokens and a document's pack is the budget window
    * it STARTS in — boundary docs overflow into the next pack exactly
    * like real concat-packing.
    *
    * Sharding is what makes this 100 TB-safe: the running sum is a
    * window per shard, so packing parallelizes across shards instead of
    * serializing the corpus through one global window.
    */
  def packByBudget(docs: DataFrame, shardCol: String, orderCol: String,
                   tokensCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col(tokensCol)) / lit(budget.toDouble)).cast("long"))
      .drop("__cum")
  }

  /** Top-k TF-IDF terms per document. Corpus shape, not per-row:
    * document frequencies come from an explode + token-keyed count
    * (shuffle carries (doc_id, token) pairs only), IDF is a vocab-sized
    * table broadcast back, ranking is a per-doc window. At 100 TB the
    * vocab table is the only thing that must fit in memory — the corpus
    * streams through.
    *
    * tfidf = (count/doc_len) · ln(n_docs/doc_freq), rounded to 6 dp
    * BEFORE ranking so rank order is engine-portable (ties broken by
    * token).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
    val cnt = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    val docLen = cnt.groupBy(col(idCol)).agg(sum("c").as("n_tok"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val docFreq = cnt.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val idf = docFreq.crossJoin(broadcast(nDocs))
      .select(col("token"),
        log(col("n_docs").cast("double") / col("doc_freq").cast("double")).as("idf"))
    // docLen is corpus-sized (one row per doc) → ordinary shuffle join;
    // only the vocab-sized idf table gets broadcast
    val scored = cnt
      .join(docLen, Seq(idCol))
      .join(broadcast(idf), Seq("token"))
      .withColumn("tfidf",
        round((col("c").cast("double") / col("n_tok").cast("double")) * col("idf"), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tfidf"), col("rank"))
  }

  /** Top-k adjacent-bigram collocations by pointwise mutual
    * information — the corpus-analytics step that surfaces multi-word
    * expressions ("new york", "machine learning") for phrase-aware
    * tokenizers and boilerplate catalogs.
    *
    * pmi = ln(c₁₂·N / (c₁·c₂)) over the BIGRAM distribution: N = total
    * adjacent pairs, c₁ = pairs with w1 on the left, c₂ = pairs with
    * w2 on the right (the margins of the pair table itself, so no
    * separate unigram pass and no document-edge mismatch). Pairs with
    * fewer than `minCount` occurrences are dropped BEFORE scoring (the
    * classic PMI-favors-hapax fix), pmi is rounded to 6 dp before
    * ranking, ties break on (w1, w2).
    *
    * Scale shape: ONE corpus scan — adjacent pairs explode scan-side
    * (`zip_with` against the shifted array, the null tail dropped) into
    * a (w1, w2) count; the left/right margins and the grand total are
    * re-aggregations of that already-reduced pair table (identical
    * exchange, reused), margins are vocab-sized joins Catalyst sizes
    * itself, and the final ranking is a bounded
    * TakeOrderedAndProject — no global window, nothing driver-side.
    */
  /** Multi-word banned-phrase matching at corpus scale (the NSFW /
    * policy wordlist pass every curation pipeline runs): a phrase of n
    * tokens is present in a document iff its single n-gram hash appears
    * among the document's positional n-gram hashes — token-boundary
    * semantics, not substring LIKE. Per distinct phrase LENGTH the
    * corpus explodes its n-gram hashes scan-side (codegen'd) and
    * broadcast-joins the (tiny) phrase-hash table; document text never
    * shuffles, and the match column is an 8-byte hash. Phrases are
    * hashed by the SAME expression, so case/whitespace normalization
    * can't drift. Returns distinct `(idCol, phrase)` hit pairs.
    */
  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
                    phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklistHits: empty phrase list")
    val spark = docs.sparkSession
    import spark.implicits._
    val byLen = phrases
      .map(p => (p.trim.split("\\s+").length, p))
      .groupBy(_._1)
    require(!byLen.contains(0), "blocklistHits: blank phrase")
    byLen.toSeq.sortBy(_._1).map { case (n, ps) =>
      val pdf = ps.map(_._2).toDF("phrase").select(col("phrase"),
        element_at(
          graft.plans.ShingleHashExpr.shingleHashesSeq(col("phrase"), n), 1)
          .as("h"))
      docs.select(col(idCol),
          explode(graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n))
            .as("h"))
        .join(broadcast(pdf), "h")
        .select(col(idCol), col("phrase"))
    }.reduce(_ unionByName _).distinct()
  }

  /** The enforcement half of [[blocklistHits]]: every document
    * rewritten with its banned-phrase occurrences cut out (token-
    * boundary, all occurrences, overlapping matches merge). Same
    * scan-side gram-hash matching as the detector; the covered-range
    * rewrite is the in-row island fold + token filter the ExactSubstr
    * removal pass uses ([[DedupFunctions.removeRepeatedSpans]]).
    * Output is `(idCol, clean_text)` for EVERY document — unaffected
    * docs come back whitespace/case-normalized.
    */
  def blocklistRemove(docs: DataFrame, idCol: String, textCol: String,
                      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklistRemove: empty phrase list")
    val byLen = phrases.map(p => (p.trim.split("\\s+").length, p)).groupBy(_._1)
    require(!byLen.contains(0), "blocklistRemove: blank phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    // (doc, gram start, gram len) of every banned-phrase occurrence
    val hits = byLen.toSeq.sortBy(_._1).map { case (n, ps) =>
      val pdf = ps.map(_._2).toDF("phrase").select(
        element_at(
          graft.plans.ShingleHashExpr.shingleHashesSeq(col("phrase"), n), 1)
          .as("h"))
      docs.select(col(idCol),
          posexplode(graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n))
            .as(Seq("p", "h")))
        .join(broadcast(pdf), "h")
        .select(col(idCol), col("p"), lit(n).as("n"))
    }.reduce(_ unionByName _)
    cutCoveredSpans(docs, idCol, textCol, hits)
  }

  /** Island-merge + token cut shared by [[blocklistRemove]] and
    * [[scrubContaminated]]: `hits` carries (id, gram start `p`, gram
    * length `n`) match ranges; overlapping/adjacent ranges merge with
    * an in-row fold and every covered token drops from the rebuilt
    * text. One per-doc aggregation + one rewrite join — text moves
    * once, never into an aggregation.
    */
  private def cutCoveredSpans(docs: DataFrame, idCol: String,
                              textCol: String, hits: DataFrame): DataFrame = {
    val spans = hits
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("p"), col("n")))).as("ms"))
      .select(col(idCol),
        expr("""aggregate(ms,
                  cast(array() as array<struct<s: int, e: int>>),
                  (acc, m) -> IF(size(acc) > 0 AND m.p <= element_at(acc, -1).e,
                    concat(slice(acc, 1, size(acc) - 1),
                           array(named_struct('s', element_at(acc, -1).s,
                                              'e', greatest(element_at(acc, -1).e,
                                                            m.p + m.n)))),
                    concat(acc, array(named_struct('s', m.p, 'e', m.p + m.n)))))""")
          .as("spans"))
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

  /** Span-level benchmark DECONTAMINATION SCRUB — the surgical
    * alternative to dropping whole contaminated training documents:
    * every training n-gram whose hash appears among the eval set's
    * n-grams marks its token range, overlapping marks merge, and the
    * covered tokens are CUT from the rebuilt text (GPT-3 appendix C
    * removes exact 13-gram collisions the same way). Documents with no
    * collision pass through verbatim (lowercased token rejoin, the
    * [[blocklistRemove]] convention).
    *
    * Scale shape: the eval gram set is tiny by nature (benchmarks are
    * thousands of docs, not billions) → distinct 64-bit hashes
    * broadcast; the training side explodes positional gram hashes
    * scan-side (codegen'd), only (id, position) hit pairs shuffle into
    * the per-doc span fold, and text moves once through the rewrite
    * join.
    */
  def scrubContaminated(train: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"scrubContaminated: need n >= 1, got $n")
    val evalGrams = evalDocs.select(explode(
        graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n)).as("h"))
      .distinct()
    val hits = train.select(col(idCol),
        posexplode(graft.plans.ShingleHashExpr.shingleHashesSeq(col(textCol), n))
          .as(Seq("p", "h")))
      .join(broadcast(evalGrams), "h")
      .select(col(idCol), col("p"), lit(n).as("n"))
    cutCoveredSpans(train, idCol, textCol, hits)
  }

  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long, k: Int): DataFrame = {
    val pairCounts = docs
      .select(TextFunctions.tokens(lower(col(textCol))).as("ts"))
      .select(explode(expr(
        "zip_with(ts, slice(ts, 2, size(ts)), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      // trim strips only 0x20, so text with leading/trailing non-space
      // whitespace yields empty boundary tokens — drop pairs touching
      // one on EITHER side (the oracle mirrors this filter)
      .where(col("p.w2").isNotNull &&
        col("p.w1") =!= "" && col("p.w2") =!= "")
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val lefts = pairCounts.groupBy("w1").agg(sum("n_pair").as("c1"))
    val rights = pairCounts.groupBy("w2").agg(sum("n_pair").as("c2"))
    val total = pairCounts.agg(sum("n_pair").as("n"))
    pairCounts
      .where(col("n_pair") >= minCount)
      .join(lefts, "w1")
      .join(rights, "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(
        log((col("n_pair").cast("double") * col("n").cast("double")) /
          (col("c1").cast("double") * col("c2").cast("double"))), 6))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BM25 top-k retrieval for a batch of keyword queries (Robertson/
    * Lucene idf: ln((N - df + 0.5)/(df + 0.5) + 1), so scores are
    * always positive).
    *
    * Scale shape: document lengths come from the NATIVE one-pass token
    * counter (scan-side, zero shuffle — no corpus-wide token groupBy
    * just to measure lengths); the exploded token stream is semi-joined
    * to the broadcast query vocabulary BEFORE the tf aggregation, so
    * only query-term postings ever shuffle (at 100 TB the posting
    * stream is |matching tokens|, not |corpus tokens|); df/idf are
    * query-vocab-sized tables broadcast back; per-query ranking uses
    * the bounded top-k aggregate (k rows per partition per query reach
    * the shuffle — no window sort over the scored corpus).
    *
    * Determinism: each per-term score is rounded to 6 dp and summed as
    * DECIMAL(18,6), so the per-document score is exact under any
    * partial-aggregation order and replays bit-identically in the
    * oracle; ties rank by doc id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = queryTable(docs.sparkSession, queries)
    val qterms = q.select("token").distinct()
    val dl = docLengths(docs, idCol, textCol)
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    bm25Score(tf, dl, corpusStats(dl), q, idCol, k, k1, b)
  }

  /** literal query batch → (query_id, token) frame, lowercased+deduped */
  private def queryTable(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    queries
      .flatMap { case (qid, terms) => terms.map(t => (qid, t.toLowerCase)) }
      .distinct.toDF("query_id", "token")
  }

  /** scan-side lengths: one codegen'd pass per row, no explode.
    * null text yields no token rows, so it's excluded from N/avgdl —
    * the same population an explode-based length count would see
    */
  private def docLengths(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("double").as("dl"))
      .filter(col("dl").isNotNull)

  /** corpus stats: ints divided once — no float accumulation (the dl
    * doubles are integer-valued, so their sum is order-free below 2^53)
    */
  private def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))

  /** Scoring core shared by the train-per-call and persisted-index BM25
    * paths: df/idf from the (already query-vocab-restricted) tf frame,
    * per-term scores rounded then DECIMAL-summed, bounded top-k rank.
    * Bit-identical between the two callers by construction — they feed
    * identical tf/dl/stats values through one expression tree.
    */
  private def bm25Score(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                        q: DataFrame, idCol: String, k: Int,
                        k1: Double, b: Double): DataFrame = {
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val term = tf
      .join(dl, Seq(idCol))
      .join(broadcast(df_), Seq("token"))
      .join(broadcast(q), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("s",
        round(col("idf") * (col("tf").cast("double") * (k1 + 1.0))
          / (col("tf").cast("double")
             + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(18,6)"))
    val scored = term.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("s")).cast("double").as("score"))
    graft.plans.TopKAggregate
      .topKExploded(scored, Seq("query_id"), col("score"), col(idCol), k)
      .select(col("query_id"), col("id").as("doc_id"),
        col("score"), col("rank"))
  }

  /** Persist the BM25 inverted index as SEGMENT 00000 of a segmented
    * index tree (`$path/segments/00000/{postings,doclen,tombstones,
    * stats}`). Postings (token, id, tf) are range-partitioned AND
    * sorted by token — a query-vocab IN filter prunes row groups by
    * min/max stats and the scan reads only the matching postings runs,
    * not the corpus. `stats` carries (n_docs, sum_dl, avgdl); sum_dl is
    * an exact integer-valued double, so [[mergeBm25Delta]] can maintain
    * it incrementally with no drift vs a full rebuild.
    *
    * Build cost is the one full token groupBy the train-per-call path
    * pays PER QUERY BATCH; paid here once per corpus build, and each
    * later refresh pays only its delta ([[mergeBm25Delta]]). The sort
    * is the index: at 100 TB a query batch touches |query postings|
    * bytes, parquet-pruned, with zero corpus-side shuffle.
    */
  def saveBm25Index(docs: DataFrame, idCol: String, textCol: String,
                    path: String): Unit = {
    val spark = docs.sparkSession
    val (fs, segRoot) = SegmentedIndex.hfs(spark, s"$path/segments")
    if (fs.exists(segRoot)) fs.delete(segRoot, true) // full rebuild
    // cached: the doclen write materializes it, the stats aggregation
    // reads it back — one corpus tokenization instead of two (the
    // cache is (id, double), ~16 B/doc, negligible next to the corpus)
    val dl = docLengths(docs, idCol, textCol)
      .select(col(idCol).as("id"), col("dl")).persist()
    try writeSegment(spark, s"$path/segments", 0,
      postings = tokenPostings(docs, idCol, textCol),
      doclen = dl, tombstones = dl.select("id").limit(0),
      stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .select(col("n_docs"), col("sum_dl"),
          (col("sum_dl").cast("double") / col("n_docs").cast("double"))
            .as("avgdl")))
    finally dl.unpersist()
  }

  /** O(delta) index refresh: append segment N with the delta's
    * postings/doclen, a tombstone list of REPLACED ids (ids already
    * live in segments < N — their old versions become dead), and the
    * updated corpus stats (exact integer arithmetic on n_docs/sum_dl,
    * so scores match a from-scratch rebuild bit for bit). The existing
    * segments are never rewritten: a 100 TB corpus refresh costs
    * |delta| tokenization + one id-level semi-join against the live
    * doc-length table, not a corpus re-index. Run
    * [[compactBm25Index]] periodically to fold accumulated segments.
    *
    * Delta contract:
    *  - at most ONE row per id (asserted — tombstones mask only
    *    strictly-earlier segments, so two versions of one doc inside a
    *    single delta would BOTH stay live and silently double-count
    *    n_docs/sum_dl; CDC callers reduce to last-per-key first, e.g.
    *    [[graft.operators.WindowOps.latestPerGroup]]);
    *  - a NULL `textCol` row is a DELETION: the id is tombstoned (if
    *    live) and no new version is ingested — the retraction path for
    *    a GDPR-style purge (not [[SegmentedIndex.retract]]: the stats
    *    must shrink with the deleted docs). Deleting an id that is not
    *    live is a no-op.
    *
    * The segment lands via write-to-temp + rename, so concurrent
    * readers never observe a partial segment. Writers are single-writer
    * by contract (see [[writeSegment]]).
    */
  def mergeBm25Delta(delta: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    val spark = delta.sparkSession
    val segs = SegmentedIndex.segmentDirs(spark, path)
    require(segs.nonEmpty, s"no BM25 index at $path — saveBm25Index first")
    val n = segs.map(_._1).max + 1
    // ONE delta-sized cached projection — (id, new doc length, null =
    // deletion) — feeds everything downstream: the dup guard, the delta
    // stats, the doclen subtable write, and the probe side of the
    // replaced-id semi-join. Round 7 tokenized the delta three times
    // (stats agg, doclen write, postings) and ran the dup guard as its
    // own groupBy job (+40% measured like-for-like merge drift); now
    // the stats aggregation materializes the cache in the same job, the
    // dup guard rides that aggregation as count-vs-countDistinct (no
    // groupBy unless a dup actually exists, and then only to name the
    // offending id), and only the postings write re-tokenizes.
    val perId = delta.select(col(idCol).as("id"),
      TextFunctions.tokenCount(col(textCol)).cast("double").as("dl"))
      .persist()
    try {
      // live (non-null-text) new versions only; null-text rows fall
      // out of N/sum_dl and surface solely through the tombstone
      // side = deletion
      val d = perId.agg(count(col("dl")).as("dn"),
        coalesce(sum(col("dl")), lit(0.0)).as("ds"),
        count(lit(1)).as("rows"), countDistinct(col("id")).as("ids")).head()
      if (d.getLong(2) != d.getLong(3)) {
        val dup = perId.groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).limit(1).collect()
        require(dup.isEmpty, // null ids can trip rows≠ids without a dup group
          s"delta has multiple rows for id ${dup.head.get(0)} — a segment " +
            "holds one version per doc; reduce the delta to last-per-key " +
            "(e.g. WindowOps.latestPerGroup) before merging")
      }
      // old versions of delta ids become dead; the probe side reads the
      // delta-sized cache, the corpus doclen streams once against it
      val replaced = SegmentedIndex.liveRows(spark, path, "doclen")
        .join(perId.select("id"), Seq("id"), "left_semi")
        .persist()
      try {
        val r = replaced.agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0.0)).as("s")).head()
        val old = spark.read.parquet(s"${segs.last._2}/stats")
          .select(col("n_docs"), col("sum_dl")).head()
        val newN = old.getLong(0) + d.getLong(0) - r.getLong(0)
        val newSum = old.getDouble(1) + d.getDouble(1) - r.getDouble(1)
        val stats = spark.range(1).select(lit(newN).as("n_docs"),
          lit(newSum).as("sum_dl"),
          lit(if (newN == 0) 0.0 else newSum / newN).as("avgdl"))
        writeSegment(spark, s"$path/segments", n,
          postings = tokenPostings(delta, idCol, textCol),
          doclen = perId.filter(col("dl").isNotNull).select("id", "dl"),
          tombstones = replaced.select("id"), stats = stats)
      } finally replaced.unpersist()
    } finally perId.unpersist()
  }

  /** Fold all live rows back into a single segment 00000 (dead
    * versions dropped, postings re-sorted by token, stats carried over
    * unchanged — compaction never changes CURRENT answers), through the
    * shared frame of [[SegmentedIndex.compactTree]]: pin guard, tmp
    * tree, two-rename swap. Copy the tree first
    * ([[SegmentedIndex.cloneAt]]) if a pinned historical read must
    * outlive it.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       pinnedBy: Option[String] = None): Unit =
    SegmentedIndex.compactTree(spark, path, pinnedBy) { (tmpRoot, segs) =>
      val dl = SegmentedIndex.liveRows(spark, path, "doclen")
      writeSegment(spark, tmpRoot, 0,
        postings = SegmentedIndex.liveRows(spark, path, "postings"),
        doclen = dl, tombstones = dl.select("id").limit(0),
        stats = spark.read.parquet(s"${segs.last._2}/stats")
          .select("n_docs", "sum_dl", "avgdl"))
    }

  /** [[bm25TopK]] answering from a persisted segmented index
    * ([[saveBm25Index]] + [[mergeBm25Delta]]): each segment's postings
    * scan is filtered by a LITERAL query-vocab IN predicate
    * (driver-small by construction) so it pushes down to parquet and
    * prunes the token-sorted row groups; dead versions are masked by
    * the tombstone anti-join (skipped entirely — footer row counts, no
    * job — when no segment has tombstones); doc lengths join only for
    * matching postings' ids. Bit-identical to train-per-call on the
    * latest-version corpus — one oracle gates both.
    */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: Seq[(Long, Seq[String])], k: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        asOf: Int = Int.MaxValue): DataFrame = {
    val q = queryTable(spark, queries)
    val terms = queries.flatMap(_._2).map(_.toLowerCase).distinct
    val segs = SegmentedIndex.segmentDirs(spark, path).filter(_._1 <= asOf)
    require(segs.nonEmpty, s"no BM25 index at $path" +
      (if (asOf != Int.MaxValue) s" as of segment $asOf" else ""))
    val tf = SegmentedIndex.liveRows(spark, path, "postings", asOf)
      .filter(col("token").isin(terms: _*))
      .select(col("id").as("doc_id"), col("token"), col("tf"))
    val dl = SegmentedIndex.liveRows(spark, path, "doclen", asOf)
      .select(col("id").as("doc_id"), col("dl"))
    // each segment carries the corpus stats AS OF its commit, so an
    // asOf read scores with exactly the n_docs/avgdl a live reader saw
    // at that version — snapshot reads replay historical rankings bit
    // for bit, not merely historical membership
    val stats = spark.read.parquet(s"${segs.last._2}/stats")
      .select("n_docs", "avgdl")
    bm25Score(tf, dl, stats, q, "doc_id", k, k1, b)
  }

  /** (token, id, tf) postings of one corpus slice.
    *
    * Deliberately TWO shuffles on the write path (hash groupBy, then
    * the caller's range repartition): collapsing them into one
    * repartitionByRange(token, id) before the aggregation was measured
    * to plan with a single exchange (range partitioning satisfies the
    * groupBy's clustering), but it ships RAW token occurrences —
    * avg-tf × |postings| rows, 2-3× for natural text — where the
    * two-step ships map-side-combined postings twice. At 100 TB the
    * byte trade loses; one extra stage round-trip is the cheaper side.
    */
  private def tokenPostings(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"), col("id")).agg(count(lit(1)).as("tf"))

  /** One BM25 segment via [[SegmentedIndex.commitSegment]] (tmp-write +
    * guarded rename, orphan sweep, single-writer contract). Postings
    * are range-partitioned and sorted by token so the query-vocab IN
    * filter prunes row groups.
    */
  private def writeSegment(spark: org.apache.spark.sql.SparkSession,
                           root: String, n: Int, postings: DataFrame,
                           doclen: DataFrame, tombstones: DataFrame,
                           stats: DataFrame): Unit =
    SegmentedIndex.commitSegment(spark, root, n) { tmp =>
      // four INDEPENDENT subtable writes (distinct dirs; inputs are
      // persisted or literal) — overlap them so the small writes ride
      // the postings job's tail instead of queueing behind it (§2.6)
      graft.core.Fan.overlap(Seq(
        () => postings.repartitionByRange(col("token"))
          .sortWithinPartitions(col("token"), col("id"))
          .write.mode("overwrite").parquet(s"$tmp/postings"),
        () => doclen.write.mode("overwrite").parquet(s"$tmp/doclen"),
        () => tombstones.write.mode("overwrite").parquet(s"$tmp/tombstones"),
        () => stats.write.mode("overwrite").parquet(s"$tmp/stats")))
    }

  /** Corpus heavy hitters: every token with frequency strictly above
    * `num/den` of all tokens, with its EXACT count — found without a
    * full-vocabulary groupBy.
    *
    * Pass 1 runs the Misra–Gries sketch ([[graft.plans.FreqItemsAggregate]]):
    * k-bounded state per partition, k·|partitions| rows to a 1-row
    * shuffle, candidates guaranteed to include every true heavy hitter
    * (needs num/den ≥ 1/(sketchK+1), enforced). Pass 2 re-scans with
    * the tiny candidate set broadcast — only candidate postings reach
    * the count shuffle — and keeps candidates whose exact count clears
    * the threshold (integer cross-multiplication, no float ratio).
    * Sketch contents are merge-order-dependent; the exact-verified
    * output is deterministic because the guarantee makes it EQUAL the
    * true heavy set under any execution order. Total-token count comes
    * from the scan-side native token counter, not a third explode.
    */
  def heavyHitters(docs: DataFrame, textCol: String,
                   sketchK: Int, num: Long, den: Long): DataFrame = {
    require(num > 0 && den > 0 && den <= num * (sketchK + 1L),
      s"MG guarantee needs num/den >= 1/(sketchK+1): $num/$den vs 1/${sketchK + 1}")
    val tok = docs.select(
      explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
    val cand = tok
      .agg(graft.plans.FreqItemsAggregate.freqCandidates(col("token"), sketchK)
        .as("cand"))
      .select(explode(col("cand")).as("token"))
    val total = docs.agg(
      sum(TextFunctions.tokenCount(lower(col(textCol)))).as("total"))
    tok.join(broadcast(cand), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(den) > col("total") * lit(num))
      .select(col("token"), col("cnt"))
  }

  /** Corpus-frequency rarity signals — the integer-exact core of a
    * perplexity-style quality score, without the float-log portability
    * risk. Per document:
    *   - `n_tok`      whitespace tokens;
    *   - `oov_frac`   fraction of tokens outside the top-`vocabK`
    *                  corpus vocabulary (high → gibberish / rare-script
    *                  text, the usual LM-quality drop signal);
    *   - `mean_tok_freq` mean corpus frequency of the doc's tokens
    *                  (low → rare/unnatural tokens; the -log of this is
    *                  a unigram surprisal proxy).
    * Plan shape at 100 TB: one token-count aggregation (map-side
    * combined, vocabulary-sized result), the top-K vocab is driver-small
    * and broadcast; the corpus token stream joins the vocabulary-sized
    * frequency table on an equi-key. All stats are integer sums divided
    * once at the end — no partial-agg order sensitivity.
    */
  def rarityStats(docs: DataFrame, idCol: String, textCol: String,
                  vocabK: Int): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
    // per-(doc, token) counts first: shrinks the join input to distinct
    // tokens per doc and makes the final per-doc agg a second map-side
    // combine over the same key
    val cnt = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    val freq = cnt.groupBy("token")
      .agg(sum("c").as("corpus_freq"), count(lit(1)).as("doc_freq"))
    // deterministic vocabulary: top-K by (freq desc, token asc)
    val vocab = freq
      .orderBy(col("corpus_freq").desc, col("token").asc).limit(vocabK)
      .select(col("token"), lit(1).as("__in_vocab"))
    val scored = cnt
      .join(freq.select("token", "corpus_freq"), Seq("token"))
      .join(broadcast(vocab), Seq("token"), "left")
    scored.groupBy(col(idCol))
      .agg(sum("c").as("n_tok"),
        sum(when(col("__in_vocab").isNull, col("c")).otherwise(lit(0L))).as("__oov"),
        sum(col("c") * col("corpus_freq")).as("__freq_sum"))
      .select(col(idCol), col("n_tok"),
        round(col("__oov").cast("double") / col("n_tok").cast("double"), 6)
          .as("oov_frac"),
        round(col("__freq_sum").cast("double") / col("n_tok").cast("double"), 6)
          .as("mean_tok_freq"))
  }

  /** C4-style segment filter: split a document on a literal separator,
    * keep only segments with at least `minWords` whitespace-words
    * (C4 drops lines under 5 words / without terminal punctuation —
    * same shape, separator-parameterized). Trailing empty segments are
    * KEPT by the split (limit −1) so the oracle's non-regex splitter
    * sees the same segment list. Returns the kept-segment array; pure
    * per-row expression, zero shuffle at any scale.
    */
  def keepSegments(text: Column, sep: String, minWords: Int): Column = {
    val segs = split(text, java.util.regex.Pattern.quote(sep), -1)
    filter(segs, s => size(split(s, " ", -1)) >= minWords)
  }

  /** Segment array for the same split (for n_segments-style stats). */
  def segments(text: Column, sep: String): Column =
    split(text, java.util.regex.Pattern.quote(sep), -1)

  /** CROSS-document duplicate-segment removal — the Dolma/RefinedWeb
    * curation step the intra-doc [[dropDuplicateSegments]] cannot
    * express: a segment is kept only at its GLOBAL first occurrence in
    * (document id, segment position) order; every later exact copy —
    * in the same document or any other — drops. Returns one row per
    * document that still has segments after the `minWords` filter:
    * `n_segments` (post-filter), `n_kept` (global first occurrences),
    * and `rebuilt` (survivors rejoined with `sep` in original order;
    * empty string when everything was someone else's duplicate).
    *
    * Scale shape: segments explode scan-side; the global
    * first-occurrence winner per segment is a PARTIAL AGGREGATE —
    * `groupBy(segment).agg(min(struct(id, idx)))` — so map-side combine
    * collapses every partition's copies of a hot boilerplate segment
    * (millions of identical cookie banners) to one candidate row before
    * the shuffle; a window rank here would instead sort ALL copies in
    * one skewed partition. Survivors are marked by joining the
    * winner table back on segment text (AQE skew-join splittable,
    * unlike a window sort partition), then ONE per-doc aggregation
    * reassembles them with an in-row array_sort on (position, segment)
    * structs — no ordering shuffle. Only (id, position, segment) rows
    * ever move, never whole documents.
    */
  /** Survivor text rebuilt in position order: collect (idx, seg)
    * struct entries (nulls from a `when` guard drop out of
    * collect_list), in-row array_sort on the struct, rejoin. Shared by
    * the segment-dedup/boilerplate family.
    */
  private def rebuiltInOrder(entry: Column, sep: String): Column =
    array_join(transform(array_sort(collect_list(entry)),
      e => e.getField("__seg")), sep)

  def dedupSegmentsAcross(docs: DataFrame, idCol: String, textCol: String,
                          sep: String, minWords: Int = 1): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val segs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(keepSegments(col(textCol), sep, minWords))
          .as(Seq("__idx", "__seg")))
    val winners = segs.groupBy("__seg")
      .agg(min(struct(col("__id"), col("__idx"))).as("__win"))
    segs.join(winners, "__seg")
      .withColumn("__keep", struct(col("__id"), col("__idx")) === col("__win"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        rebuiltInOrder(when(col("__keep"),
          struct(col("__idx"), col("__seg"))), sep).as("rebuilt"))
  }

  /** Corpus-frequency BOILERPLATE removal (the CCNet "drop lines that
    * appear in more than K documents" cleaning rule): a segment drops
    * from EVERY document once the number of DISTINCT documents
    * containing it reaches `minDocs` — unlike [[dedupSegmentsAcross]]
    * (which keeps the global first copy), boilerplate keeps no copy: a
    * cookie banner is noise at its first occurrence too. Returns one
    * row per document with ≥1 segment: `n_segments` (pre-filter),
    * `n_kept`, and `rebuilt` (survivors rejoined in position order;
    * empty string when everything was boilerplate).
    *
    * Scale shape: the document-frequency table is `(seg, id)` distinct
    * → per-seg count — both steps partial-aggregate, so hot
    * boilerplate keys combine map-side (the [[dedupSegmentsAcross]]
    * discipline); the hot-segment table (df ≥ minDocs — bounded by
    * n_segments / minDocs) anti-joins the segment stream (AQE
    * skew-splittable), and per-doc reassembly is one aggregation with
    * an in-row array_sort. Only (id, position, segment) rows move.
    */
  def removeFrequentSegments(docs: DataFrame, idCol: String, textCol: String,
                             sep: String, minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(segments(col(textCol), sep)).as(Seq("__idx", "__seg")))
    val hot = segs.select("__seg", "__id").distinct()
      .groupBy("__seg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select("__seg")
    val totals = segs.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_segments"))
    val kept = segs.join(hot, Seq("__seg"), "left_anti")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        rebuiltInOrder(struct(col("__idx"), col("__seg")), sep)
          .as("rebuilt"))
    totals.join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt"), lit("")).as("rebuilt"))
  }

  /** Intra-document duplicate-segment REMOVAL (the C4 "discard
    * duplicate three-sentence spans" cleaning step, separator-
    * parameterized): keep each segment's FIRST occurrence in order,
    * rejoin. `array_distinct` preserves first-occurrence order, so
    * this is a pure per-row expression — cleaning 100 TB is a scan.
    */
  def dropDuplicateSegments(text: Column, sep: String): Column =
    array_join(array_distinct(segments(text, sep)), sep)

  /** Sliding token-window chunking — the context-window prep step
    * between curation and packing: each document splits into chunks of
    * up to `size` whitespace tokens starting every `stride` tokens
    * (overlap = size − stride, so a span never straddles a boundary
    * unseen). One row per chunk: `chunk_idx`, `n_tokens`, `chunk`
    * (rejoined text). Pure scan-side explode — no shuffle, no window;
    * output volume is the size/stride duplication factor, paid at
    * write time exactly like any tokenizer's sliding window.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val toks = split(trim(col(textCol)), "\\s+")
    docs
      .withColumn("__toks", toks)
      .withColumn("__start",
        explode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        least(lit(window), size(col("__toks")) - col("__start")).cast("long")
          .as("n_tokens"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(window)), " ")
          .as("chunk"))
  }

  /** MinHash tier of [[sourceOverlap]] — the 100 TB path when the
    * vocabulary itself is too large to pair-join: each group reduces to
    * a k-component MinHash signature (componentwise min of the per-doc
    * native signatures, so the corpus pass is ONE scan + a
    * (groups·k)-row aggregation), and every pairwise Jaccard estimate
    * is component agreement / k — groups² work on k longs, zero token
    * data. Same md5 double-hash family as the doc-level minhash
    * operators, so any engine replays the signatures bit-for-bit.
    * Estimate emitted as BIGINT ppm (exact half-up division); std
    * error ≈ 1/√k. All C(groups,2) pairs appear (a < b), including
    * zero-agreement ones — the signature table is complete by
    * construction, there is no sparsity to preserve. A document with
    * ZERO non-empty tokens contributes nothing: its signature
    * components are the empty-string sentinel (MinHashSignature emits
    * "" when no token was hashed), which would win every string-min
    * and force its whole group to k×"" — so empty components are
    * filtered out before the min. A group consisting ONLY of such
    * documents drops from the signature table entirely (same as the
    * token-level oracle, whose min over zero token hashes is absent).
    */
  def sourceOverlapMinhash(docs: DataFrame, groupCol: String,
                           textCol: String, k: Int): DataFrame = {
    require(k >= 1, "sourceOverlapMinhash: need k >= 1")
    val sig = graft.plans.MinHashSignature.signature(
      array_distinct(filter(TextFunctions.tokens(lower(col(textCol))),
        t => length(t) > lit(0))), k)
    val comp = docs
      .select(col(groupCol).as("__g"), posexplode(sig).as(Seq("__i", "__v")))
      .filter(col("__v") =!= "")
      .groupBy("__g", "__i").agg(min("__v").as("__v"))
    comp.as("a")
      .join(comp.as("b"),
        col("a.__i") === col("b.__i") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("source_a"), col("b.__g").as("source_b"))
      .agg(sum(when(col("a.__v") === col("b.__v"), 1L).otherwise(0L))
        .as("agree"))
      .select(col("source_a"), col("source_b"), col("agree"),
        Sampling.ppmHalfUp(col("agree"), lit(k.toLong))
          .as("est_ppm"))
  }

  /** Ref-counted vocabulary partial for DELTA-MAINTAINED corpus
    * statistics: (group, token, n_docs·sign) over a document slice,
    * where n_docs counts the documents containing the token (distinct
    * per doc). Additive by construction — new corpus slices merge with
    * `sign = 1`, retracted/replaced documents with `sign = -1` (the
    * GDPR shape: the retraction knows the text it removes) — so vocab
    * sizes, source overlap, and any type-level statistic refresh from
    * delta-sized jobs, never a corpus re-scan. The AggMaintain
    * discipline applied to the vocabulary.
    */
  def vocabTypePartial(docs: DataFrame, groupCol: String, textCol: String,
                       sign: Int = 1): DataFrame = {
    require(sign == 1 || sign == -1, "vocabTypePartial: sign must be ±1")
    docs.select(col(groupCol).as("__g"),
        explode(array_distinct(filter(TextFunctions.tokens(lower(col(textCol))),
          t => length(t) > lit(0)))).as("__t"))
      .groupBy("__g", "__t")
      .agg((count(lit(1)) * sign).as("__nd"))
  }

  /** Merge vocabulary partials: sum the per-(group, token) doc counts
    * and keep the types still carried by ≥1 live document. The merged
    * frame IS the live type table — feed it to
    * [[sourceOverlapFromVocab]] (or any type-level statistic) to
    * refresh corpus analytics after a delta without touching the
    * corpus. One vocabulary-sized aggregation.
    */
  def vocabTypeMerge(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "vocabTypeMerge: need at least one partial")
    parts.reduce(_ unionByName _)
      .groupBy("__g", "__t").agg(sum("__nd").as("__nd"))
      .filter(col("__nd") > 0L)
  }

  /** [[sourceOverlap]] over an already-maintained type table
    * (`(__g, __t [, __nd])` — the output of [[vocabTypeMerge]]): the
    * pair join runs on the index, the corpus is never read.
    */
  def sourceOverlapFromVocab(vocab: DataFrame): DataFrame =
    overlapOfTypes(vocab.select("__g", "__t"))

  /** Pairwise vocabulary overlap between corpus groups (sources /
    * domains / snapshots): exact token-TYPE Jaccard per group pair, as
    * BIGINT parts-per-million — the "how redundant are my sources"
    * matrix a mixture plan starts from (near-duplicate sources waste
    * budget; fully disjoint ones starve cross-domain transfer).
    *
    * Shape at scale: the corpus reduces to DISTINCT (group, token)
    * TYPES in one map-side-combined pass — everything after runs on
    * vocabulary-sized data, never documents. The pair join shuffles
    * the type table by token; per-token fan-out is bounded by
    * (groups containing the token)² ≤ |groups|², independent of corpus
    * rows (|groups| is domains/sources — hundreds, not billions). Group
    * sizes broadcast back. Output is all-integer (exact half-up ppm);
    * only pairs sharing ≥1 token appear (Jaccard 0 pairs are the
    * complement — emitting them would force a groups×groups cross
    * join for rows that carry no information).
    */
  def sourceOverlap(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame =
    overlapOfTypes(docs.select(col(groupCol).as("__g"),
        explode(filter(TextFunctions.tokens(lower(col(textCol))),
          t => length(t) > lit(0))).as("__t"))
      .distinct())

  private def overlapOfTypes(types: DataFrame): DataFrame = {
    val sizes = types.groupBy("__g").agg(count(lit(1)).as("__n"))
    val shared = types.as("a")
      .join(types.as("b"),
        col("a.__t") === col("b.__t") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("source_a"), col("b.__g").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    val union = col("n_a") + col("n_b") - col("shared")
    shared
      .join(broadcast(sizes.select(col("__g").as("source_a"), col("__n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("__g").as("source_b"), col("__n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared"),
        Sampling.ppmHalfUp(col("shared"), union)
          .as("jaccard_ppm"))
  }
}
