package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional phrase / proximity search over a document corpus.
  *
  * The retrieval layer ([[Curation]]'s BM25 stack) ranks by bag-of-words
  * statistics; this module adds ORDER-aware matching: exact phrase
  * occurrence ("the tokens appear adjacent, in this order") and bounded
  * proximity ("both tokens appear within a w-token window"). Reference
  * behavior anchor: free-text containment checks in the reference run as
  * full-column scans (e.g. validation greps over clinical text fields);
  * here the same question is answered from token positions so the text
  * itself never shuffles.
  *
  * Design for 100 TB:
  *  - positional postings `(token, doc_id, pos)` are generated scan-side
  *    (posexplode inside the scan projection) and filtered to the QUERY
  *    VOCABULARY before anything else — the only rows that ever leave
  *    the scan are hits for tokens the query batch actually mentions,
  *    so shuffle volume is bounded by corpus frequency of the query
  *    terms, not corpus size;
  *  - phrase matching is ONE broadcast join + ONE aggregation, for any
  *    phrase length (no per-term self-join chain): a posting for token
  *    t at position p votes for aligned start `p - j` for every phrase
  *    offset j where phrase[j] == t; a start that collects all
  *    `len(phrase)` DISTINCT offsets is an occurrence. Overlapping
  *    occurrences count (matching "batch batch" in "batch batch batch"
  *    yields 2) — each start is its own vote bucket;
  *  - proximity is a postings equi-join on (query, doc) with the range
  *    predicate |p1 − p2| ≤ w applied join-side; pair expansion is
  *    bounded by the per-document term frequencies of the two query
  *    terms, never by document length.
  *
  * Tokenization is the engine-wide whitespace contract
  * ([[TextFunctions.tokens]] over `lower(text)`), so DuckDB oracles
  * replay it with `regexp_split_to_array(trim(lower(text)), '\s+')`.
  */
object PhraseSearch {

  private def requirePhrases(phrases: Seq[(Long, Seq[String])]): Unit = {
    require(phrases.nonEmpty, "need at least one phrase")
    require(phrases.forall(_._2.nonEmpty), "phrases must be non-empty")
    require(phrases.map(_._1).distinct.size == phrases.size,
      "query ids must be unique")
  }

  /** Scan-side positional postings `(doc_id, pos, token)`, pruned to
    * `vocab` before anything leaves the scan.
    */
  private def scanPostings(docs: DataFrame, idCol: String, textCol: String,
                           vocab: Seq[String]): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(lower(col(textCol))))
          .as(Seq("pos", "token")))
      .where(col("token").isin(vocab: _*))

  /** Exact-phrase search: one row per (query, document) with at least
    * one occurrence, `n_occurrences` counting every aligned start
    * (overlaps included). Phrases are matched case-insensitively
    * against whitespace tokens; a phrase is a non-empty ordered token
    * sequence (single-token phrases degenerate to term lookup).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrases: Seq[(Long, Seq[String])]): DataFrame = {
    requirePhrases(phrases)
    matchPhrases(
      scanPostings(docs, idCol, textCol,
        phrases.flatMap(_._2).map(_.toLowerCase).distinct),
      phrases)
  }

  /** The phrase matcher over any `(doc_id, pos, token)` postings
    * relation (scan-side or index-side): one broadcast join + one
    * aggregation regardless of phrase length.
    */
  private def matchPhrases(postings: DataFrame,
                           phrases: Seq[(Long, Seq[String])]): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._

    // (query_id, j, token): the phrase terms with their offsets —
    // query-batch-sized, broadcast.
    val terms = phrases
      .flatMap { case (qid, ws) =>
        ws.map(_.toLowerCase).zipWithIndex.map { case (w, j) => (qid, j, w) }
      }
      .toDF("query_id", "j", "token")
    val lens = phrases.map { case (qid, ws) => (qid, ws.size.toLong) }
      .toDF("query_id", "phrase_len")

    val aligned = postings
      .join(broadcast(terms), "token")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("j")).as("start"), col("j"))
      .where(col("start") >= 0)

    aligned
      .groupBy("query_id", "doc_id", "start")
      .agg(countDistinct(col("j")).as("n_offsets"))
      .join(broadcast(lens), "query_id")
      .where(col("n_offsets") === col("phrase_len"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy("query_id", "doc_id")
  }

  /** Unordered proximity search: for each (query_id, t1, t2) pair,
    * one row per document where t1 and t2 co-occur within `window`
    * tokens, `n_pairs` counting the qualifying position pairs
    * (|p1 − p2| ≤ window). The two terms of a pair must differ —
    * same-term proximity is phrase/repetition territory.
    */
  def proximitySearch(docs: DataFrame, idCol: String, textCol: String,
                      pairs: Seq[(Long, String, String)],
                      window: Int): DataFrame = {
    require(pairs.nonEmpty, "need at least one term pair")
    require(window >= 1, "window must be >= 1")
    require(pairs.forall(p => p._2.toLowerCase != p._3.toLowerCase),
      "proximity terms must differ")
    require(pairs.map(_._1).distinct.size == pairs.size,
      "query ids must be unique")
    val spark = docs.sparkSession
    import spark.implicits._

    countPairs(
      scanPostings(docs, idCol, textCol,
        pairs.flatMap(p => Seq(p._2, p._3)).map(_.toLowerCase).distinct),
      pairs, window)
  }

  /** The proximity counter over any `(doc_id, pos, token)` postings
    * relation.
    */
  private def countPairs(postings: DataFrame,
                         pairs: Seq[(Long, String, String)],
                         window: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._

    // (query_id, side, token): side 1 = t1, side 2 = t2. One broadcast
    // table for both sides → ONE postings pass, ONE shuffle; the pair
    // predicate runs as an array fold after the per-doc group, so no
    // position-pair row expansion ever materializes.
    val terms = pairs
      .flatMap { case (qid, t1, t2) =>
        Seq((qid, 1, t1.toLowerCase), (qid, 2, t2.toLowerCase))
      }
      .toDF("query_id", "side", "token")

    postings
      .join(broadcast(terms), "token")
      .groupBy("query_id", "doc_id")
      .agg(
        collect_list(when(col("side") === 1, col("pos"))).as("ps1"),
        collect_list(when(col("side") === 2, col("pos"))).as("ps2"))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("ps1"), lit(0L),
          (acc, p) => acc +
            size(filter(col("ps2"), q => abs(p - q) <= window)).cast("long"))
          .as("n_pairs"))
      .where(col("n_pairs") > 0)
      .orderBy("query_id", "doc_id")
  }

  // ---- persisted positional index ------------------------------------
  //
  // A single-subtable [[SegmentedIndex]] ("postings": one row per live
  // (doc, token) with the sorted position list), giving phrase /
  // proximity queries the same operational path the BM25 stack has:
  // build once, refresh by O(delta) merge (null text deletes), purge by
  // id ([[SegmentedIndex.retract]]), compact periodically. Query-side
  // reads prune on `token IN vocab` — segments are written
  // token-sorted, so parquet row-group stats keep non-matching row
  // groups on disk; the corpus text is never re-read once indexed.

  /** (id, token, positions) rows — the positional postings of a corpus
    * slice. Positions are ascending; null text yields no rows (the
    * deletion contract of [[mergePositionalDelta]]).
    */
  def positionalRows(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(lower(col(textCol))))
          .as(Seq("pos", "token")))
      .groupBy("id", "token")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** The postings layout every segment writer applies: token-range
    * partitioning + (token, id) sort, the BM25 segment discipline
    * (Curation.writeSegment) — a query-vocab IN filter then prunes
    * whole FILES via parquet min/max footers, not just row groups,
    * which is the difference between touching a few hundred MB and
    * re-listing the full postings tree at corpus scale.
    */
  private def shapePostings(rows: DataFrame): DataFrame =
    rows.repartitionByRange(col("token"))
      .sortWithinPartitions(col("token"), col("id"))

  /** Persist the positional index (full rebuild). Rows land
    * token-range-partitioned and sorted so a vocab-filtered read
    * prunes files and row groups.
    */
  def savePositionalIndex(docs: DataFrame, idCol: String, textCol: String,
                          path: String): Unit =
    SegmentedIndex.createIndex(docs.sparkSession, path, "postings",
      shapePostings(positionalRows(docs, idCol, textCol)))

  /** O(delta) refresh: tombstone replaced ids, append the delta's
    * postings as segment N. Same contract as the other index merges:
    * one row per id per delta (asserted), null text = deletion.
    */
  def mergePositionalDelta(delta: DataFrame, idCol: String, textCol: String,
                           path: String): Unit =
    SegmentedIndex.mergeDeltaRows(delta.sparkSession, path, "postings",
      delta.select(col(idCol)),
      shapePostings(positionalRows(delta, idCol, textCol)))

  /** Fold accumulated segments to one (answers unchanged, token
    * clustering re-established, live snapshot pins deferred to —
    * see [[SegmentedIndex.compactIndex]]).
    */
  def compactPositionalIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             pinnedBy: Option[String] = None): Unit =
    SegmentedIndex.compactIndex(spark, path, "postings", pinnedBy,
      shapePostings)

  /** GDPR-style purge: tombstone `ids` without rewriting any data
    * segment — the retracted documents stop matching every phrase /
    * proximity query immediately ([[SegmentedIndex.retract]]).
    */
  def retractPositional(spark: org.apache.spark.sql.SparkSession,
                        path: String, ids: DataFrame): Unit =
    SegmentedIndex.retract(spark, path, ids, Seq("postings"))

  /** Live index postings exploded back to `(doc_id, pos, token)`,
    * vocabulary-pruned at the segment scan. `asOf` pins a snapshot.
    */
  private def indexPostings(spark: org.apache.spark.sql.SparkSession,
                            path: String, vocab: Seq[String],
                            asOf: Int): DataFrame =
    SegmentedIndex.liveRows(spark, path, "postings", asOf)
      .where(col("token").isin(vocab: _*))
      .select(col("id").as("doc_id"), col("token"),
        explode(col("positions")).as("pos"))

  /** [[phraseSearch]] answered from the persisted index —
    * bit-identical to the scan-side pass over the same live corpus.
    */
  def phraseSearchFromIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            phrases: Seq[(Long, Seq[String])],
                            asOf: Int = Int.MaxValue): DataFrame = {
    requirePhrases(phrases)
    matchPhrases(
      indexPostings(spark, path,
        phrases.flatMap(_._2).map(_.toLowerCase).distinct, asOf),
      phrases)
  }

  /** [[proximitySearch]] answered from the persisted index. */
  def proximitySearchFromIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               pairs: Seq[(Long, String, String)],
                               window: Int,
                               asOf: Int = Int.MaxValue): DataFrame = {
    require(pairs.nonEmpty, "need at least one term pair")
    require(window >= 1, "window must be >= 1")
    require(pairs.forall(p => p._2.toLowerCase != p._3.toLowerCase),
      "proximity terms must differ")
    require(pairs.map(_._1).distinct.size == pairs.size,
      "query ids must be unique")
    countPairs(
      indexPostings(spark, path,
        pairs.flatMap(p => Seq(p._2, p._3)).map(_.toLowerCase).distinct,
        asOf),
      pairs, window)
  }
}
