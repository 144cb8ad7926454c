package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.rules.{RowRule, Rules}

/** Structured-Streaming front-end (SURVEY §2.10).
  *
  * The reference is strictly batch; its incremental behavior is the
  * md5-skip + PK-diff upsert. We expose the same validate→process
  * transforms over a streaming file source as an additive capability:
  * new files dropped into a center's input dir validate continuously,
  * and event-shaped sources get watermarked tumbling-window stats.
  */
object ValidateStream {

  /** Whether live snapshot manifests under `pinnedBy` pin `path`'s
    * current tree — the upkeep sinks' auto-compaction checks this and
    * DEFERS (skips) compaction rather than crashing the stream; the
    * tree resumes folding once the pins retire. None = unguarded.
    * ANY failure to read the run-log (malformed manifest, a foreign
    * file whose \u escape throws NumberFormat/StringIndexOutOfBounds
    * deep in unescape, filesystem IO errors) also defers: the
    * directory may hold a real pin we could not read, a long-running
    * stream must not die on a run-log hygiene problem, and deferral
    * is the safe direction (compaction retries next batch).
    */
  private def pinned(spark: SparkSession, path: String,
                     pinnedBy: Option[String]): Boolean =
    pinnedBy.exists { src =>
      try graft.functions.CorpusSnapshot.pinsOn(spark, path, src).nonEmpty
      catch { case scala.util.control.NonFatal(_) => true }
    }

  /** Stream a directory of TSVs through the validation battery;
    * each micro-batch appends one findings row-set (one row per rule)
    * tagged with the batch id. foreachBatch keeps the battery's
    * single-pass aggregation shape.
    */
  def validationStream(spark: SparkSession, inputDir: String, schema: StructType,
                       rules: Seq[RowRule], checkpoint: String)
                      (sink: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val src = spark.readStream
      .option("sep", "\t")
      .option("header", "true")
      .option("comment", "#")
      .schema(schema)
      .csv(inputDir)
    src.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(Rules.Battery.asDataFrame(batch, rules).withColumn("batch_id", lit(batchId)), batchId)
      }
  }

  /** Streaming exact-dedup for continuous corpus ingestion: state is
    * bounded by the watermark (`dropDuplicatesWithinWatermark`), so a
    * forever-running dedup never accumulates unbounded digest state —
    * the streaming twin of the batch md5-groupBy exact dedup. Dedup key
    * = md5 of the content column.
    */
  def dedupStream(docs: DataFrame, tsCol: String, contentCol: String,
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__digest", md5(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Stream-vs-corpus incremental dedup: drop stream docs whose content
    * digest already exists in a STATIC corpus index (the persisted
    * digest table [[graft.functions.DedupFunctions.incrementalExactDup]]
    * builds batch-side). A stream-static left-anti join is stateless —
    * the static side is planned per micro-batch, so republishing the
    * index parquet between batches picks up corpus growth without
    * restarting the query. Chain [[dedupStream]] after it for
    * within-stream duplicates; this stage only guards against
    * re-ingesting what the corpus already holds.
    */
  def dedupAgainstCorpus(docs: DataFrame, contentCol: String,
                         corpusDigests: DataFrame,
                         digestCol: String = "digest"): DataFrame =
    docs
      .withColumn("__digest", md5(col(contentCol)))
      .join(corpusDigests.select(col(digestCol).as("__digest")).distinct(),
        Seq("__digest"), "left_anti")
      .drop("__digest")

  /** Ingest-time ANN near-dup gate on a live embedding stream:
    * stateless per-row cell assignment over LITERAL centroids (the
    * streaming-legal argmin — non-time windows are illegal on
    * unbounded streams) plus a stream-static equi-join on `cid`
    * against the persisted IVF index. No watermark, no state store,
    * unbounded uptime; the static index is planned per micro-batch, so
    * republishing it picks up corpus growth without a restart. Same
    * code path as the oracle-gated batch twin (`dedup_ingest_probe`);
    * the spec pins stream == batch.
    */
  def nearDupProbeStream(docs: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, corpus: DataFrame,
                         tau: Double): DataFrame =
    graft.functions.VectorFunctions.nearDupProbeIndex(
      indexPath, docs, idCol, vecCol, corpus, tau)

  /** Streaming MinHash band-index maintenance: each micro-batch of new
    * documents appends its (band_key, id) rows to the persisted LSH
    * index that [[graft.functions.DedupFunctions.incrementalNearDupCandidates]]
    * (and [[dedupAgainstCorpus]]'s digest twin) consume — the index
    * grows by batch-sized appends, the corpus is never re-indexed.
    * Parquet append per batch is idempotent-enough for at-least-once
    * sinks only if ids are deduped downstream; exactly-once callers
    * should point `path` at a table format with atomic appends.
    */
  def bandIndexStream(docs: DataFrame, idCol: String, elemsCol: org.apache.spark.sql.Column,
                      path: String, checkpoint: String,
                      k: Int = 16, bands: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.functions.DedupFunctions.bandIndex(batch, idCol, elemsCol, k, bands)
          .write.mode("append").parquet(path)
      }
      .start()

  /** The upkeep loop every persisted-index sink shares: each non-empty
    * micro-batch is `merge`d as ONE O(batch) segment when the index at
    * `path` exists, else `create`s it — None for indexes whose
    * parameters (IVF centroids, PQ codebooks) train offline, where a
    * missing index fails the batch. Past `maxSegments` the tree folds
    * inline via `compact` (answers unchanged, two-rename swap). Safe
    * here because foreachBatch serializes the sink: the compactor IS
    * the single writer. Live snapshot pins under `pinnedBy` defer
    * compaction instead of crashing the stream — segments accumulate
    * until the pins retire. A replayed batch (at-least-once sink)
    * lands as an extra segment whose tombstones retire its first copy,
    * so answers are replay-stable; only the segment count grows until
    * the next compaction. Every merge asserts one row per id per batch
    * ([[graft.functions.SegmentedIndex.mergeDeltaRows]]): a CDC source
    * emitting two versions of an id in one batch fails the batch.
    */
  private def upkeepStream(docs: DataFrame, path: String, checkpoint: String,
                           maxSegments: Int, pinnedBy: Option[String],
                           compact: SparkSession => Unit)
                          (merge: DataFrame => Unit,
                           create: Option[DataFrame => Unit])
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val S = graft.functions.SegmentedIndex
          if (S.exists(spark, path)) merge(batch)
          else create match {
            case Some(build) => build(batch)
            case None => throw new IllegalStateException(
              s"no index at $path — build it before streaming into it")
          }
          if (S.segmentDirs(spark, path).size > maxSegments &&
              !pinned(spark, path, pinnedBy))
            compact(spark)
        }
      }
      .start()

  /** Streaming BM25 index maintenance ([[upkeepStream]]): each
    * micro-batch lands as one segment via
    * [[graft.functions.Curation.mergeBm25Delta]] (the first non-empty
    * batch creates the index) — re-ingested ids are tombstoned, corpus
    * stats stay exact by integer arithmetic, and each segment commits
    * atomically (temp-write + rename), so a concurrent
    * [[graft.functions.Curation.bm25TopKFromIndex]] reader always sees
    * a consistent index. The corpus is never re-tokenized.
    */
  def bm25IndexStream(docs: DataFrame, idCol: String, textCol: String,
                      path: String, checkpoint: String,
                      maxSegments: Int = Int.MaxValue,
                      pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val C = graft.functions.Curation
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      C.compactBm25Index(_, path))(
      C.mergeBm25Delta(_, idCol, textCol, path),
      Some(C.saveBm25Index(_, idCol, textCol, path)))
  }

  /** Streaming positional-index upkeep ([[upkeepStream]]) — the
    * phrase/proximity twin of [[bm25IndexStream]]: the first
    * micro-batch creates the index
    * ([[graft.functions.PhraseSearch.savePositionalIndex]]), every
    * later one lands as a token-sorted segment
    * ([[graft.functions.PhraseSearch.mergePositionalDelta]] — null
    * text deletes, re-ingested ids tombstone their old postings).
    */
  def phraseIndexStream(docs: DataFrame, idCol: String, textCol: String,
                        path: String, checkpoint: String,
                        maxSegments: Int = Int.MaxValue,
                        pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val P = graft.functions.PhraseSearch
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      P.compactPositionalIndex(_, path))(
      P.mergePositionalDelta(_, idCol, textCol, path),
      Some(P.savePositionalIndex(_, idCol, textCol, path)))
  }

  /** Streaming ExactSubstr gram-index upkeep ([[upkeepStream]]) — keeps
    * the repeated-substring audit O(delta)-refreshable under document
    * arrivals/replacements/deletions
    * ([[graft.functions.DedupFunctions.mergeRepeatedSpanDelta]]; null
    * text deletes). A replaced document's old grams stop counting the
    * moment its segment commits, so span stats shift corpus-wide
    * exactly as a rebuild would. The first non-empty batch may CREATE
    * the index (per-row gram explosion — no trained parameters). `n`
    * is frozen per index path.
    */
  def repeatedSpanIndexStream(docs: DataFrame, idCol: String, textCol: String,
                              path: String, checkpoint: String, n: Int,
                              maxSegments: Int = Int.MaxValue,
                              pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val D = graft.functions.DedupFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      D.compactRepeatedSpanIndex(_, path))(
      D.mergeRepeatedSpanDelta(_, idCol, textCol, path, n),
      Some(D.saveRepeatedSpanIndex(_, idCol, textCol, path, n)))
  }

  /** Streaming simhash pigeonhole-index upkeep ([[upkeepStream]]) — the
    * Hamming-tier twin of [[repeatedSpanIndexStream]]: the first
    * non-empty micro-batch creates the index
    * ([[graft.functions.DedupFunctions.saveSimhashIndex]]), every later
    * one lands as a postings segment
    * ([[graft.functions.DedupFunctions.mergeSimhashDelta]] — null token
    * arrays delete, re-ingested ids tombstone their old fingerprints).
    * The post-stream table is bit-identical to a batch
    * [[graft.functions.DedupFunctions.saveSimhashIndex]] over the same
    * corpus (spec-gated).
    */
  def simhashIndexStream(docs: DataFrame, idCol: String,
                         elemsCol: org.apache.spark.sql.Column,
                         path: String, checkpoint: String,
                         bits: Int = 32, maxHamming: Int = 3,
                         maxSegments: Int = Int.MaxValue,
                         pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val D = graft.functions.DedupFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      graft.functions.SegmentedIndex.compactIndex(_, path, "blocks"))(
      D.mergeSimhashDelta(_, idCol, elemsCol, path, bits, maxHamming),
      Some(D.saveSimhashIndex(_, idCol, elemsCol, path, bits, maxHamming)))
  }

  /** Streaming IVF cell-index maintenance ([[upkeepStream]]) — the
    * write half of the ingest loop whose read half is
    * [[nearDupProbeStream]]: each micro-batch of ACCEPTED rows folds
    * into the persisted IVF index via
    * [[graft.functions.VectorFunctions.mergeIvfDelta]] — delta rows
    * assign against the FROZEN centroids (no re-train mid-stream),
    * re-ingested ids tombstone their old cells, null vectors delete.
    * The next micro-batch's probe plans the static index side fresh
    * and already sees them — no republish, no restart. The index must
    * already exist (saveIvfIndex — streaming ingest assigns to a
    * trained quantizer, it does not train one); watch
    * [[graft.functions.SegmentedIndex.deltaFraction]] (`"cells"`) and
    * re-train on a maintenance cadence when deltas dominate.
    */
  def ivfIndexStream(docs: DataFrame, idCol: String, vecCol: String,
                     path: String, checkpoint: String,
                     maxSegments: Int = Int.MaxValue,
                     pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val V = graft.functions.VectorFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      V.compactIvfIndex(_, path))(
      V.mergeIvfDelta(_, idCol, vecCol, path), None)
  }

  /** Streaming PQ index upkeep ([[upkeepStream]]) — the code-store twin
    * of [[ivfIndexStream]]: each micro-batch encodes against the FROZEN
    * codebooks ([[graft.functions.VectorFunctions.mergePqDelta]] — no
    * re-training ever happens on the hot path) and lands as one code
    * segment; null vectors delete, re-ingests replace. The index must
    * exist ([[graft.functions.VectorFunctions.savePqIndex]]) — codebooks
    * are trained offline, exactly the IVF centroid contract. Watch
    * [[graft.functions.SegmentedIndex.deltaFraction]] (`"codes"`) for
    * the re-train trigger.
    */
  def pqIndexStream(docs: DataFrame, idCol: String, vecCol: String,
                    path: String, checkpoint: String, m: Int, dim: Int,
                    maxSegments: Int = Int.MaxValue,
                    pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val V = graft.functions.VectorFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      V.compactPqIndex(_, path))(
      V.mergePqDelta(_, idCol, vecCol, path, m, dim), None)
  }

  /** Streaming IVF-PQ (IVFADC) index upkeep ([[upkeepStream]]) —
    * completes the ANN index family's streaming symmetry: each
    * micro-batch assigns to the FROZEN coarse centroids and
    * residual-encodes against the FROZEN codebooks
    * ([[graft.functions.VectorFunctions.mergeIvfPqDelta]]), landing as
    * one segment; null vectors delete, re-ingests replace. The index
    * must exist ([[graft.functions.VectorFunctions.saveIvfPqIndex]] —
    * both parameter sets train offline).
    */
  def ivfPqIndexStream(docs: DataFrame, idCol: String, vecCol: String,
                       path: String, checkpoint: String, m: Int, dim: Int,
                       maxSegments: Int = Int.MaxValue,
                       pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val V = graft.functions.VectorFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      graft.functions.SegmentedIndex.compactIndex(_, path, "codes"))(
      V.mergeIvfPqDelta(_, idCol, vecCol, path, m, dim), None)
  }

  /** Streaming upkeep of the persisted kNN GRAPH
    * ([[graft.functions.VectorFunctions.saveKnnGraph]]) through
    * [[upkeepStream]]: each micro-batch of arriving vectors merges in
    * O(|batch|·|corpus|) (new lists for the batch, changed-lists-only
    * repair of the old ones) and then APPENDS itself to `corpusPath` —
    * the stream owns both artifacts, so the pre-delta corpus every
    * merge needs is always the previous batch's post-state. The graph
    * tier is ARRIVALS-ONLY: a re-ingested id would corrupt the bounded
    * lists, so the sink proves each batch is new ids with unique rows
    * and fails loudly otherwise; replacements and deletes route
    * through [[graft.functions.VectorFunctions.retractKnnGraph]] +
    * re-ingest. The first micro-batch BOOTSTRAPS when the graph index
    * does not exist yet: it writes the batch as the initial corpus and
    * builds the initial graph from it (corpus first, so a crash between
    * the two replays back into the bootstrap branch and overwrites
    * idempotently) — a stream may start on empty paths.
    */
  def knnGraphStream(docs: DataFrame, idCol: String, vecCol: String,
                     graphPath: String, corpusPath: String,
                     checkpoint: String, k: Int,
                     maxSegments: Int = Int.MaxValue,
                     pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val V = graft.functions.VectorFunctions
    def withDelta(batch: DataFrame)(f: DataFrame => Unit): Unit = {
      val delta = batch.select(col(idCol), col(vecCol)).persist()
      try f(delta) finally delta.unpersist(blocking = false)
    }
    def requireUniqueIds(delta: DataFrame, what: String): Unit = {
      val dup = delta.groupBy(idCol).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"knnGraphStream: $what has multiple rows for id " +
          s"${dup.headOption.map(_.get(0)).orNull} — one vector per id")
    }
    upkeepStream(docs, graphPath, checkpoint, maxSegments, pinnedBy,
      graft.functions.SegmentedIndex.compactIndex(_, graphPath, "graph"))(
      merge = withDelta(_) { delta =>
        val corpus = delta.sparkSession.read.parquet(corpusPath)
        // replay detection: a re-delivered batch whose ids ALL already
        // reached the corpus WITH THE SAME VECTORS was fully committed
        // — skip it (the graph merge is itself replay-stable, but
        // skipping also avoids a duplicate corpus append). A crash
        // BETWEEN merge and append replays with zero overlap and
        // re-merges idempotently; a partial overlap, or same ids with
        // different vectors, is a genuine re-ingest and fails loudly.
        val nDelta = delta.count()
        val nAlready = delta.join(corpus.select(col(idCol)),
          Seq(idCol), "left_semi").count()
        val isReplay = nAlready == nDelta && {
          val stored = corpus.select(col(idCol), col(vecCol).as("__stored"))
          delta.join(stored, Seq(idCol))
            .filter(!(col(vecCol) <=> col("__stored")))
            .limit(1).collect().isEmpty
        }
        if (!isReplay) {
          requireUniqueIds(delta, "batch")
          require(nAlready == 0L,
            s"knnGraphStream: $nAlready of $nDelta batch ids already " +
              "in the corpus — the graph stream is arrivals-only; route " +
              "replacements through retractKnnGraph + re-ingest")
          V.mergeKnnGraphDelta(delta.sparkSession, graphPath, corpus, delta,
            idCol, vecCol, k)
          delta.write.mode("append").parquet(corpusPath)
        }
      },
      // bootstrap: no graph yet — this batch IS the corpus. Corpus
      // lands first so a crash before the graph build replays back
      // into this branch (graph still absent) and overwrites both
      // artifacts idempotently.
      create = Some(withDelta(_) { delta =>
        requireUniqueIds(delta, "bootstrap batch")
        delta.write.mode("overwrite").parquet(corpusPath)
        V.saveKnnGraph(delta, idCol, vecCol, graphPath, k)
      }))
  }

  /** Streaming int8 code-store upkeep ([[upkeepStream]]) — the simplest
    * member of the ANN streaming family: quantization is a pure per-row
    * function (no trained parameters at all), so the first non-empty
    * batch may CREATE the index and every later batch lands as one
    * segment ([[graft.functions.VectorFunctions.mergeInt8Delta]]); null
    * vectors delete, re-ingests replace, and the merged store is
    * trivially identical to a fresh build over the latest corpus.
    */
  def int8IndexStream(docs: DataFrame, idCol: String, vecCol: String,
                      path: String, checkpoint: String,
                      maxSegments: Int = Int.MaxValue,
                      pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val V = graft.functions.VectorFunctions
    upkeepStream(docs, path, checkpoint, maxSegments, pinnedBy,
      graft.functions.SegmentedIndex.compactIndex(_, path, "codes8"))(
      V.mergeInt8Delta(_, idCol, vecCol, path),
      Some(V.saveInt8Index(_, idCol, vecCol, path)))
  }

  /** Streaming perceptual-hash index upkeep ([[upkeepStream]]) — the
    * multimodal ingest loop: each micro-batch of media payloads hashes
    * on the executors (real decode; only (id, 8-byte hash) rows reach
    * the sink) and lands as one segment via
    * [[graft.multimodal.Multimodal.mergePHashDelta]]; the first
    * non-empty batch creates the index. The engine-wide deletion
    * contract rides along (undecodable/null payload ⇒ tombstone). A
    * replayed batch re-lands as tombstone+replace with identical
    * hashes — probe answers are replay-stable. Compose with
    * [[graft.multimodal.Multimodal.probePHashIndex]] on the query/gate
    * side (stream-static, no state).
    */
  def phashIndexStream(media: DataFrame, idCol: String, payloadCol: String,
                       path: String, checkpoint: String,
                       hasher: (DataFrame, String, String) => DataFrame =
                         graft.multimodal.Multimodal.imagePHashes,
                       maxSegments: Int = Int.MaxValue,
                       pinnedBy: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val M = graft.multimodal.Multimodal
    def hashed(batch: DataFrame): (DataFrame, String) = {
      val hashes = hasher(batch, idCol, payloadCol)
      (hashes, hashes.columns.filterNot(_ == idCol).head)
    }
    upkeepStream(media, path, checkpoint, maxSegments, pinnedBy,
      graft.functions.SegmentedIndex.compactIndex(_, path, "hashes"))(
      batch => { val (hashes, hashCol) = hashed(batch)
        M.mergePHashDelta(batch.select(col(idCol)), hashes, idCol, hashCol, path) },
      Some(batch => { val (hashes, hashCol) = hashed(batch)
        M.savePHashIndex(hashes, idCol, hashCol, path) }))
  }

  /** Streaming curation: the batch curation decisions (language ID,
    * quality score, PII scrub) applied to a live document stream. All
    * three are per-row Column expressions, so this stage is stateless —
    * no watermark, no shuffle, unbounded uptime. Chain [[dedupStream]]
    * after it for the stateful exact-dedup step.
    */
  def curateStream(docs: DataFrame, textCol: String,
                   keepLangs: Seq[String], minQuality: Double): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("clean_text", TextFunctions.scrubPii(col(textCol)))
      .filter(coalesce(col("lang_pred").isInCollection(keepLangs), lit(false)) &&
        coalesce(col("quality") >= minQuality, lit(false)))
  }

  /** Streaming Bloom decontamination: arriving documents annotated
    * against a FIXED eval-set Bloom bitset (built once from the eval
    * corpus with [[graft.functions.DedupFunctions.bloomBitsetFromEval]]
    * and passed in — eval suites change rarely; rebuild + restart the
    * query when they do). The test is the fused native expression
    * (`plans/BloomShingleStatsExpr`), a pure per-row Column — so the
    * stage is STATELESS: no watermark, no state store, no shuffle,
    * unbounded uptime, and the 32 KiB bitset rides inside the plan to
    * every executor. The streaming-legal twin of the batch
    * `decontam_bloom` query — identical outputs on identical rows.
    */
  def bloomDecontamStream(docs: DataFrame, idCol: String, textCol: String,
                          words: Array[Long], n: Int, seeds: Int,
                          mBits: Int): DataFrame = {
    val st = graft.plans.BloomShingleStatsExpr
      .stats(col(textCol), n, seeds, mBits, words)
    docs
      .withColumn("__st", st)
      .withColumn("n_shingles", col("__st.n_shingles"))
      .withColumn("n_hit", col("__st.n_hit"))
      .withColumn("flagged", col("n_hit") > 0L)
      .drop("__st")
  }

  /** One micro-batch of vocabulary-stats upkeep (the unit
    * [[vocabStatsStream]] runs and the spec drives directly): merge the
    * batch's ref-counted (group, token, n_docs) partial into the
    * maintained table at `tablePath`. COUNT partials are NOT idempotent
    * under re-delivery (unlike the SCD2/upsert sinks, whose merges
    * are), so the applied batch id is committed INSIDE the table as a
    * constant `__batch` column — it swaps atomically with the data
    * (staging + overwrite), and a re-delivered `batchId ≤` the table's
    * high-water mark is skipped. Exactly-once without a side meta file
    * that could diverge from the data on a crash between two writes.
    * The constant column costs nothing in parquet (RLE/dictionary).
    */
  def applyVocabBatch(batch: DataFrame, groupCol: String, textCol: String,
                      tablePath: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val existing =
      try Some(spark.read.parquet(tablePath)).filter(_.columns.nonEmpty)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val committed = existing
      .map(_.agg(max("__batch")).head().getLong(0)).getOrElse(Long.MinValue)
    if (batchId <= committed) false
    else {
      val part = graft.functions.Curation
        .vocabTypePartial(batch, groupCol, textCol)
      val merged = existing match {
        case Some(ex) => graft.functions.Curation
          .vocabTypeMerge(ex.select("__g", "__t", "__nd"), part)
        case None => part.filter(col("__nd") > 0L)
      }
      val staging = tablePath + "__staging"
      merged.withColumn("__batch", lit(batchId))
        .write.mode("overwrite").parquet(staging)
      graft.operators.Upsert.overwrite(
        spark, spark.read.parquet(staging), tablePath)
      true
    }
  }

  /** One micro-batch of maintained drift-bucket upkeep (the unit
    * [[psiBucketStream]] runs and the spec drives directly): fold the
    * batch's SIGNED per-bucket count partial into the maintained
    * (bucket, n) table — `signCol` is +1 for arrivals and −1 for
    * retractions (the agg_maintain_psi monoid). Net-zero buckets STAY
    * in the table as n = 0 rows rather than being dropped: the bucket
    * space is resolution-bounded (≤ ~40 rows), so retention costs
    * nothing, and dropping them would erase the table entirely when a
    * retraction empties the corpus — taking the `__batch` high-water
    * mark with it and re-opening the replay hole it exists to close.
    * Readers take the live view as `n > 0`. Signed COUNT partials are
    * not idempotent under re-delivery, so the same in-table `__batch`
    * high-water-mark discipline as [[applyVocabBatch]] applies: the
    * batch id commits atomically WITH the data, replays are skipped
    * (the mark read is null-safe for the empty-table edge). PSI
    * against a pinned reference snapshot is then #buckets-row
    * arithmetic over this table — a continuous drift monitor costs
    * each batch, never an archive re-scan.
    */
  def applyPsiBucketBatch(batch: DataFrame, bucketCol: org.apache.spark.sql.Column,
                          signCol: org.apache.spark.sql.Column, tablePath: String,
                          batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val existing =
      try Some(spark.read.parquet(tablePath)).filter(_.columns.nonEmpty)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val committed = existing.map(_.agg(max("__batch")).head())
      .filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(Long.MinValue)
    if (batchId <= committed) false
    else {
      val part = batch
        .select(bucketCol.cast("long").as("bucket"),
          signCol.cast("long").as("__s"))
        .groupBy("bucket").agg(sum("__s").as("n"))
      val merged = existing match {
        case Some(ex) => ex.select("bucket", "n").unionByName(part)
          .groupBy("bucket").agg(sum("n").as("n"))
        case None => part
      }
      val staging = tablePath + "__staging"
      merged.withColumn("__batch", lit(batchId))
        .write.mode("overwrite").parquet(staging)
      graft.operators.Upsert.overwrite(
        spark, spark.read.parquet(staging), tablePath)
      true
    }
  }

  /** Streaming drift-bucket upkeep: each micro-batch folds its signed
    * per-bucket partial into the maintained table via
    * [[applyPsiBucketBatch]] — the streaming continuation of the
    * `agg_maintain_psi` batch operator. Work per batch is batch-sized
    * plus one #buckets-row merge; replays skip via the in-table
    * high-water mark.
    */
  def psiBucketStream(docs: DataFrame, bucketCol: org.apache.spark.sql.Column, signCol: org.apache.spark.sql.Column,
                      tablePath: String,
                      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPsiBucketBatch(batch, bucketCol, signCol, tablePath, batchId)
        ()
      }

  /** Streaming vocabulary-stats upkeep: each micro-batch of documents
    * folds its (group, token, n_docs) partial into the maintained type
    * table via [[applyVocabBatch]] — corpus analytics (vocab sizes,
    * source overlap via
    * [[graft.functions.Curation.sourceOverlapFromVocab]]) then answer
    * from the table without ever re-scanning the corpus. Work per
    * batch is batch-sized + one vocabulary-sized merge; replayed
    * batches are skipped via the in-table high-water mark.
    */
  def vocabStatsStream(docs: DataFrame, groupCol: String, textCol: String,
                       tablePath: String,
                       checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyVocabBatch(batch, groupCol, textCol, tablePath, batchId)
        ()
      }

  /** Streaming PK-upsert sink: each micro-batch merges into the parquet
    * table via the same Upsert.merge the batch path uses (S12 semantics,
    * exactly-once via checkpoint + idempotent overwrite).
    */
  def upsertStream(stream: DataFrame, pkCols: Seq[String], tablePath: String,
                   checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing =
          try Some(spark.read.parquet(tablePath)).filter(_.columns.nonEmpty)
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val merged = existing match {
          case Some(ex) => graft.operators.Upsert.merge(batch, ex, pkCols, allowDelete = false)
          case None     => batch
        }
        // stage BEFORE overwrite (the merge plan reads the same path);
        // both writes stay distributed — no driver materialization
        val staging = tablePath + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.operators.Upsert.overwrite(spark, spark.read.parquet(staging), tablePath)
      }

  /** One SCD2 micro-batch application — the exact per-batch logic
    * [[scd2Stream]] runs, factored out so the batch-twin oracle query
    * (`scd2_stream_replay`) DuckDB-gates the same code the stream
    * executes: first batch initializes the history (valid_from = ts,
    * open-ended), every later batch is a full-snapshot [[graft.operators.Scd2.merge]].
    */
  def scd2ApplyBatch(existing: Option[DataFrame], batch: DataFrame,
                     pkCols: Seq[String], attrCols: Seq[String],
                     ts: Long): DataFrame =
    existing match {
      case Some(ex) =>
        graft.operators.Scd2.merge(ex, batch, pkCols, attrCols, ts)
      case None => batch
        .withColumn("valid_from", lit(ts))
        .withColumn("valid_to", lit(null).cast("long"))
    }

  /** Streaming SCD2 sink: each micro-batch of dimension snapshots
    * merges into a versioned history table via the same
    * [[graft.operators.Scd2.merge]] the batch path uses — changed keys
    * close and reopen at the batch's `ts`, so the table answers
    * "attribute value as of T" for any T. Same staging-then-overwrite
    * discipline as [[upsertStream]]; exactly-once via checkpoint +
    * idempotent overwrite.
    */
  def scd2Stream(stream: DataFrame, pkCols: Seq[String], attrCols: Seq[String],
                 tsOf: Long => Long, tablePath: String,
                 checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val existing =
          try Some(spark.read.parquet(tablePath)).filter(_.columns.nonEmpty)
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val merged = scd2ApplyBatch(existing, batch, pkCols, attrCols, tsOf(batchId))
        val staging = tablePath + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.operators.Upsert.overwrite(spark, spark.read.parquet(staging), tablePath)
      }

  /** Watermarked stream-stream interval join: each left event matches
    * right events with the same key whose timestamp lies within
    * `[leftTs - lookback, leftTs]` — streaming attribution (click ←
    * preceding views). Emits ALL qualifying right rows, not just the
    * latest: a streaming operator cannot know "latest" until the
    * watermark closes; apply a downstream dedup for point-in-time
    * semantics (the batch twin is `operators/AsOfJoin`).
    *
    * Both sides are watermarked, and the time-bound predicate lets
    * Spark expire join state once `lookback + watermark` has passed —
    * a forever-running join with bounded memory, the only shape that
    * survives an unbounded 100 TB/day stream.
    *
    * Column names must be disjoint between the two sides (pass
    * pre-renamed frames), mirroring Structured Streaming's own
    * self-join restrictions.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   lookback: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs))
  }

  /** Watermarked tumbling-window counts over an event stream — the
    * streaming twin of SparkEntry's `stream_tumbling_counts` batch
    * query (same output schema, exactly-once via checkpoint).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col(keyCol), col("n_events"), col("sum_value"))
}
