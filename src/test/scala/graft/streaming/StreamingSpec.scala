package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.rules.{RowRule, Rules}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("validation stream: files validate per micro-batch via foreachBatch") {
    val in  = tmpDir("stream-in")
    val cp  = tmpDir("stream-cp")
    Files.write(Paths.get(in, "a.tsv"), "ID\tSTATUS\n1\tOK\n2\tBAD\n".getBytes)
    val schema = StructType(Seq(
      StructField("ID", StringType), StructField("STATUS", StringType)))
    val rules = Seq(RowRule("status_domain", "error",
      Rules.domain(col("STATUS"), Seq("OK")), col("ID"), "{count} bad"))

    var seen = Seq.empty[(String, Long)]
    val q = ValidateStream.validationStream(spark, in, schema, rules, cp) { (findings, _) =>
      seen = findings.select("rule", "n_violations").as[(String, Long)].collect().toSeq
    }.start()
    q.awaitTermination(30000)
    assert(seen == Seq(("status_domain", 1L)))
  }

  test("tumbling counts: streaming agg matches batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    mem.addData((at(0), "click", 1.0), (at(5), "click", 2.0), (at(70), "view", 3.0))

    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = ValidateStream.tumblingCounts(df, "ts", "event_type")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val rows = spark.table("tumbling")
      .select("win_start_ms", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val h1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00").getTime
    assert(rows.contains((h0, "click", 2L)))
    assert(rows.contains((h1, "view", 1L)))
  }

  test("sliding windows on a stream: each event lands in two overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    mem.addData((base, "click", 1.0),
      (new java.sql.Timestamp(base.getTime + 120000L), "click", 2.0))
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("event_type"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val rows = spark.table("sliding")
      .as[(Long, String, Long)].collect().toSet
    val m05 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00").getTime
    val m10 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00").getTime
    // both events in [00:05,00:15) and [00:10,00:20) — 2 windows each
    assert(rows == Set((m05, "click", 2L), (m10, "click", 2L)),
      s"unexpected sliding windows: $rows")
  }

  test("streaming dedup: duplicate content within the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    mem.addData(
      (at(0), 1L, "same text"), (at(1), 2L, "same text"), // dup within watermark
      (at(2), 3L, "other text"))
    val deduped = ValidateStream.dedupStream(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "text", watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val ids = spark.table("dedup_stream").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L)) // first copy wins, duplicate dropped
  }

  test("streaming curation: stateless per-row filter + scrub on a live stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, "the cat and the dog sit in a house that is big and the roof is red"),
      (2L, "el gato y la casa de los perros en una calle"), // lang filtered
      (3L, "zz"),                                           // quality filtered
      (4L, "the mail is a.b@c.io and the code is fine that is the point of it all"))
    val curated = ValidateStream.curateStream(
      mem.toDF().toDF("doc_id", "text"), "text",
      keepLangs = Seq("en"), minQuality = 0.3)
    val q = curated.writeStream.format("memory").queryName("curate_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val rows = spark.table("curate_stream")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(rows.keySet == Set(1L, 4L))
    assert(rows(4L).contains("<EMAIL>") && !rows(4L).contains("a.b@c.io"))
  }

  test("streaming bloom decontamination: stateless, identical to the batch pass") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.DedupFunctions
    val eval = Seq((100L, "alpha bravo charlie delta echo foxtrot"))
      .toDF("doc_id", "text")
    val words = DedupFunctions.bloomBitsetFromEval(
      eval, "text", n = 5, seeds = 3, mBits = 1 << 14)
    val arriving = Seq(
      (1L, "alpha bravo charlie delta echo somewhere new"), // shares a 5-gram
      (2L, "totally unrelated stream content goes right here"),
      (3L, "bravo charlie delta echo foxtrot trailing words")) // shares one too
    val mem = MemoryStream[(Long, String)]
    mem.addData(arriving: _*)
    val flagged = ValidateStream.bloomDecontamStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      words, n = 5, seeds = 3, mBits = 1 << 14)
    val q = flagged.writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val got = spark.table("bloom_stream")
      .select("doc_id", "n_shingles", "n_hit", "flagged")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // identical to the batch pass over the same rows
    val batch = DedupFunctions.bloomDecontaminate(
        arriving.toDF("doc_id", "text"), eval, "doc_id", "text",
        n = 5, seeds = 3, mBits = 1 << 14)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == batch.toSeq)
    assert(got.map(r => r._1 -> r._4).toMap == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("streaming PSI buckets: signed merges == survivor rebuild, replays skip") {
    import graft.functions.TextFunctions
    val dir = tmpDir("psi_stream") + "/buckets"
    val bucketOf = length(bin(TextFunctions.tokenCount(col("text"))
      .cast("long"))).cast("long")
    val b0 = Seq((1L, "a b c"), (2L, "a b c d e f g h"), (3L, "x"))
      .toDF("doc_id", "text")
    val b1 = Seq((4L, "p q r s"), (5L, "t"))
      .toDF("doc_id", "text")
    // batch 2 RETRACTS docs 3 and 5 (sign −1)
    val b2 = Seq((3L, "x"), (5L, "t")).toDF("doc_id", "text")
    assert(ValidateStream.applyPsiBucketBatch(b0, bucketOf, lit(1L), dir, 0L))
    assert(ValidateStream.applyPsiBucketBatch(b1, bucketOf, lit(1L), dir, 1L))
    assert(ValidateStream.applyPsiBucketBatch(b2, bucketOf, lit(-1L), dir, 2L))
    // replays (same and stale ids) are no-ops
    assert(!ValidateStream.applyPsiBucketBatch(b2, bucketOf, lit(-1L), dir, 2L))
    assert(!ValidateStream.applyPsiBucketBatch(b0, bucketOf, lit(1L), dir, 0L))
    val table = spark.read.parquet(dir)
    assert(table.select(max("__batch")).head().getLong(0) == 2L)
    // LIVE view (n > 0) == a direct rebuild over the SURVIVORS (1,2,4);
    // the bucket both retracted docs occupied (1-token docs) is net-0
    // and excluded from the live view (but retained as a row, below)
    val survivors = Seq((1L, "a b c"), (2L, "a b c d e f g h"),
      (4L, "p q r s")).toDF("doc_id", "text")
    val direct = survivors.select(bucketOf.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(table.filter(col("n") > 0).select("bucket", "n")
      .as[(Long, Long)].collect().toSet == direct)
    // the net-zero bucket row is RETAINED (it carries the watermark)
    assert(table.filter(col("n") === 0).count() == 1L)
    // retracting EVERYTHING must not lose the high-water mark: the
    // live view empties but a replayed batch is still skipped
    val b3 = survivors
    assert(ValidateStream.applyPsiBucketBatch(b3, bucketOf, lit(-1L), dir, 3L))
    val emptied = spark.read.parquet(dir)
    assert(emptied.filter(col("n") > 0).count() == 0L)
    assert(!ValidateStream.applyPsiBucketBatch(b3, bucketOf, lit(-1L), dir, 3L))
    // rebuild the survivor state for the stream-sink comparison below
    assert(ValidateStream.applyPsiBucketBatch(survivors, bucketOf, lit(1L), dir, 4L))
    assert(spark.read.parquet(dir).filter(col("n") > 0)
      .select("bucket", "n").as[(Long, Long)].collect().toSet == direct)
    // the stream sink drives the same unit end-to-end
    implicit val sqlCtx = spark.sqlContext
    val dir2 = tmpDir("psi_stream2") + "/buckets"
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a b c"), (2L, "a b c d e f g h"), (4L, "p q r s"))
    val q = ValidateStream.psiBucketStream(
      mem.toDF().toDF("doc_id", "text"), bucketOf, lit(1L),
      dir2, tmpDir("psi_ckpt")).start()
    q.awaitTermination(30000)
    assert(spark.read.parquet(dir2).filter(col("n") > 0)
      .select("bucket", "n").as[(Long, Long)].collect().toSet == direct)
  }

  test("streaming vocab stats: batches merge, replays skip via in-table high-water mark") {
    import graft.functions.Curation
    val dir = tmpDir("vocab_stream") + "/vocab"
    val b0 = Seq((1L, "a", "w1 w2 shared"), (2L, "b", "w1 extra")).toDF("doc_id", "source", "text")
    val b1 = Seq((3L, "a", "w3 shared")).toDF("doc_id", "source", "text")
    assert(ValidateStream.applyVocabBatch(b0, "source", "text", dir, 0L))
    assert(ValidateStream.applyVocabBatch(b1, "source", "text", dir, 1L))
    // replayed batch (same id) and a stale id are both skipped — no double counts
    assert(!ValidateStream.applyVocabBatch(b1, "source", "text", dir, 1L))
    assert(!ValidateStream.applyVocabBatch(b0, "source", "text", dir, 0L))
    val table = spark.read.parquet(dir)
    assert(table.select(max("__batch")).head().getLong(0) == 1L)
    val fresh = Curation.vocabTypePartial(b0.union(b1), "source", "text")
    assert(table.select("__g", "__t", "__nd").collect().toSet ==
      fresh.collect().toSet)
    // the maintained table answers the overlap matrix directly
    val viaVocab = Curation.sourceOverlapFromVocab(table).collect().toSet
    val direct = Curation.sourceOverlap(b0.union(b1), "source", "text").collect().toSet
    assert(viaVocab == direct)
    // and the actual stream sink drives the same unit end-to-end
    implicit val sqlCtx = spark.sqlContext
    val dir2 = tmpDir("vocab_stream2") + "/vocab"
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((1L, "a", "w1 w2 shared"), (2L, "b", "w1 extra"), (3L, "a", "w3 shared"))
    val q = ValidateStream.vocabStatsStream(
      mem.toDF().toDF("doc_id", "source", "text"), "source", "text",
      dir2, tmpDir("vocab_ckpt")).start()
    q.awaitTermination(30000)
    assert(spark.read.parquet(dir2).select("__g", "__t", "__nd")
      .collect().toSet == fresh.collect().toSet)
  }

  test("stream-static dedup: docs already in the corpus index are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "already ingested content"), (2L, "genuinely new content"),
      (3L, "also already present"), (4L, "fresh again"))
    val corpus = Seq("already ingested content", "also already present")
      .toDF("text").select(md5(col("text")).as("digest"))
    val out = ValidateStream.dedupAgainstCorpus(
      mem.toDF().toDF("doc_id", "text"), "text", corpus)
    val q = out.writeStream.format("memory").queryName("dedup_corpus")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val kept = spark.table("dedup_corpus").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), s"expected corpus dups dropped, got $kept")
  }

  test("streaming ANN probe: streamed embeddings flag in-cell near-dups, == batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    // planted-cluster corpus (same fixture family as ScaleSpec): 4
    // orthogonal clusters, jitter << separation
    val corpus = (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + ((i * 31 + d * 7) % 5) * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("annprobe")
    VectorFunctions.saveIvfIndex(corpus, "vec_id", "embedding", s"$dir/idx",
      clusters = 4, iters = 2)
    // incoming: 1000 sits on cluster-0's axis (near-dup), 1001 on a
    // direction no cluster occupies (odd dims are never cluster axes)
    val incoming = Seq(
      (1000L, Array.tabulate(8)(d => if (d == 0) 10.0f else 0.0f)),
      (1001L, Array.tabulate(8)(d => if (d == 7) 10.0f else 0.0f)))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(incoming: _*)
    val out = ValidateStream.nearDupProbeStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", corpus, tau = 0.99)
    val q = out.writeStream.format("memory").queryName("ann_probe")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val streamed = spark.table("ann_probe")
      .as[(Long, Long, Double)].collect().toSet
    // 1000 matches every cluster-0 member (50 of them), 1001 matches none
    assert(streamed.count(_._1 == 1000L) == 50, s"got ${streamed.count(_._1 == 1000L)}")
    assert(!streamed.exists(_._1 == 1001L))
    // the stream path IS the batch path: identical rows
    val batch = VectorFunctions.nearDupProbeIndex(s"$dir/idx",
        incoming.toDF("vec_id", "embedding"), "vec_id", "embedding", corpus, tau = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming IVF maintenance: micro-batches fold into the index the probe reads") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    def vec(i: Int) = Array.tabulate(8) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val corpus = (0 until 200).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivfstream")
    VectorFunctions.saveIvfIndex(corpus, "vec_id", "embedding", s"$dir/idx",
      clusters = 4, iters = 2)
    // two micro-batches: new ids 1000/1001, then 1002 plus a RE-INGEST
    // of 1000 with a different cluster's vector (tombstone exercise)
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1000L, vec(0)), (1001L, vec(1)))
    val q = ValidateStream.ivfIndexStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt")
    // drain batch 1 BEFORE adding batch 2: the re-ingest of 1000 must
    // land in a LATER segment (one version per id per segment — a CDC
    // source that can emit several versions in one micro-batch has to
    // reduce to last-per-key before the sink, and the merge asserts it)
    q.processAllAvailable()
    mem.addData((1002L, vec(2)), (1000L, vec(3)))
    q.processAllAvailable()
    q.stop()
    // live cells == one frozen-centroid assignment of the latest corpus
    val latest = (corpus.as[(Long, Array[Float])].collect().toSeq ++
      Seq((1001L, vec(1)), (1002L, vec(2)), (1000L, vec(3))))
      .toDF("vec_id", "embedding")
    val cents = spark.read.parquet(s"$dir/idx/centroids")
    val expect = VectorFunctions.kmeansAssign(latest, "vec_id", "embedding", cents)
      .select(col("vec_id").as("id"), col("cid")).as[(Long, Int)].collect().toSet
    val live = VectorFunctions.ivfCells(spark, s"$dir/idx")
      .as[(Long, Int)].collect().toSet
    assert(live == expect, "streamed merges must equal a frozen-centroid assignment")
    // the probe's static side now contains the folded rows: a probe of
    // 1000's NEW vector hits in-cell members including 1000 itself
    val probe = VectorFunctions.nearDupProbeIndex(s"$dir/idx",
        Seq((2000L, vec(3))).toDF("vec_id", "embedding"), "vec_id", "embedding",
        latest, tau = 0.99)
      .select("c_id").as[Long].collect().toSet
    assert(probe.contains(1000L),
      s"probe must see the streamed re-ingest in its cell, got $probe")
  }

  test("streaming PQ maintenance: batches encode against frozen codebooks; drift retrain hook") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    val dim = 16
    def vec(i: Int) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 4) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val corpus = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("pqstream")
    VectorFunctions.savePqIndex(corpus, "vec_id", "embedding", s"$dir/idx",
      m = 4, dim = dim, ksub = 8, iters = 2)
    // two micro-batches: new ids, then a re-ingest of 1000 with a
    // different cluster's vector (tombstone) + auto-compaction at cap 2
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1000L, vec(0)), (1001L, vec(1)))
    val q = ValidateStream.pqIndexStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", m = 4, dim = dim, maxSegments = 2)
    q.processAllAvailable()
    mem.addData((1002L, vec(2)), (1000L, vec(3)))
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$dir/idx/segments").list()
      .count(_.matches("\\d{5}")) <= 2, "auto-compaction must bound segments")
    // live codes == frozen-codebook re-encode of the latest corpus
    val latest = (corpus.as[(Long, Array[Float])].collect().toSeq ++
      Seq((1001L, vec(1)), (1002L, vec(2)), (1000L, vec(3))))
      .toDF("vec_id", "embedding")
    val books = spark.read.parquet(s"$dir/idx/codebooks")
    val expect = VectorFunctions
      .pqEncodePacked(latest, "vec_id", "embedding", books, 4, dim)
      .select(col("vec_id").as("id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toSet
    val live = VectorFunctions.pqCodes(spark, s"$dir/idx")
      .as[(Long, Seq[Int])].collect().toSet
    assert(live == expect,
      "streamed merges must equal a frozen-codebook re-encode")
  }

  test("streaming repeated-span index: arrivals/replacements fold in; stats equal rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.DedupFunctions
    val dir = tmpDir("repspanstream")
    val mem = MemoryStream[(Long, String)]
    // batch 1 CREATES the index; batch 2 brings the doc that makes
    // doc 1's phrase repeated, then REPLACES doc 3 (count unaffected)
    mem.addData((1L, "a b p q r s t c d"), (3L, "k1 k2 k3 k4"))
    val q = ValidateStream.repeatedSpanIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/ckpt", n = 3, maxSegments = 1)
    q.processAllAvailable()
    assert(DedupFunctions.repeatedSpanStatsFromIndex(spark, s"$dir/idx", n = 3)
      .isEmpty)
    mem.addData((2L, "e f g p q r s t h"), (3L, "m1 m2 m3 m4"))
    q.processAllAvailable()
    q.stop()
    val latest = Seq(
      (1L, "a b p q r s t c d"),
      (2L, "e f g p q r s t h"),
      (3L, "m1 m2 m3 m4")
    ).toDF("doc_id", "text")
    val live = DedupFunctions.repeatedSpanStatsFromIndex(spark, s"$dir/idx", n = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val fresh = DedupFunctions.repeatedSpanStats(latest, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(live == fresh && live.map(_._1) == Seq(1L, 2L), s"got $live")
    // auto-compaction folded to one segment
    assert(graft.functions.SegmentedIndex
      .segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0))
  }

  test("streaming simhash index: arrivals/replacements/deletions fold in; pairs equal batch build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.DedupFunctions
    val dir = tmpDir("simhashstream")
    val toks = split(lower(col("text")), "\\s+")
    val mem = MemoryStream[(Long, String)]
    // batch 1 CREATES the index: docs 1 and 2 are identical → Hamming 0
    mem.addData((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (5L, "totally unrelated content here"))
    val q = ValidateStream.simhashIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", toks,
      s"$dir/idx", s"$dir/ckpt", bits = 32, maxHamming = 3, maxSegments = 1)
    q.processAllAvailable()
    assert(DedupFunctions.simhashPairsFromIndex(spark, s"$dir/idx", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 2L, 0L)))
    // batch 2: doc 3 arrives as another exact twin, doc 2's content is
    // DELETED (null text → null token array → no postings, tombstone
    // retires the old fingerprint)
    mem.addData((3L, "alpha beta gamma delta"), (2L, null.asInstanceOf[String]))
    q.processAllAvailable()
    q.stop()
    // live pairs ≡ the batch tier over the latest corpus (doc 2 gone)
    val latest = Seq((1L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"),
      (5L, "totally unrelated content here")).toDF("doc_id", "text")
    val live = DedupFunctions.simhashPairsFromIndex(spark, s"$dir/idx", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val fresh = DedupFunctions.simhashHammingPairs(latest, "doc_id", toks,
        bits = 32, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(live == fresh && live == Set((1L, 3L, 0L)),
      s"streamed postings must equal a batch build; got $live")
    // inline auto-compaction folded the tree back to one segment
    assert(graft.functions.SegmentedIndex
      .segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0))
  }

  test("streaming kNN-graph maintenance: arrivals fold in, live graph equals rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    def vec(i: Int) = Array.tabulate(8) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val corpus = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("knnstream")
    corpus.write.parquet(s"$dir/corpus")
    VectorFunctions.saveKnnGraph(corpus, "vec_id", "embedding",
      s"$dir/idx", k = 3)
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1000L, vec(0)), (1001L, vec(1)))
    val q = ValidateStream.knnGraphStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/corpus", s"$dir/ckpt", k = 3, maxSegments = 1)
    q.processAllAvailable()
    mem.addData((1002L, vec(2)))
    q.processAllAvailable()
    q.stop()
    // inline auto-compaction folded the tree back to one segment
    assert(graft.functions.SegmentedIndex
      .segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0))
    val latest = (corpus.as[(Long, Array[Float])].collect().toSeq ++
      Seq((1000L, vec(0)), (1001L, vec(1)), (1002L, vec(2))))
      .toDF("vec_id", "embedding")
    val live = VectorFunctions.knnGraphEdges(spark, s"$dir/idx")
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    val fresh = VectorFunctions.knnGraph(latest, "vec_id", "embedding", k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(live == fresh, "streamed graph must equal a fresh rebuild")
    // and the stream kept the corpus artifact in lockstep
    assert(spark.read.parquet(s"$dir/corpus").count() == 63L)
    // a REPLAYED batch (same id, same vector) is skipped silently —
    // graph and corpus unchanged
    val memR = MemoryStream[(Long, Array[Float])]
    memR.addData((1001L, vec(1)))
    val qR = ValidateStream.knnGraphStream(
      memR.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/corpus", s"$dir/ckptR", k = 3)
    qR.processAllAvailable()
    qR.stop()
    assert(spark.read.parquet(s"$dir/corpus").count() == 63L)
    assert(VectorFunctions.knnGraphEdges(spark, s"$dir/idx")
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)]
      .collect().toSet == fresh)
    // a function-level double merge (crash-between-merge-and-append
    // replay) is idempotent: live graph still equals the rebuild
    VectorFunctions.mergeKnnGraphDelta(spark, s"$dir/idx",
      latest.filter($"vec_id" =!= 1002L),
      Seq((1002L, vec(2))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3)
    assert(VectorFunctions.knnGraphEdges(spark, s"$dir/idx")
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)]
      .collect().toSet == fresh)
    // a re-ingested id (same id, DIFFERENT vector) is refused loudly
    val mem2 = MemoryStream[(Long, Array[Float])]
    mem2.addData((1000L, vec(3))) // 1000 already in the corpus as vec(0)
    val q2 = ValidateStream.knnGraphStream(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/corpus", s"$dir/ckpt2", k = 3)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(err.getMessage.contains("arrivals-only") ||
      Option(err.getCause).exists(_.getMessage.contains("arrivals-only")))
  }

  test("streaming kNN-graph bootstrap: a stream started on empty paths creates both artifacts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    def vec(i: Int) = Array.tabulate(8) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val dir = tmpDir("knnboot")
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((0 until 20).map(i => (i.toLong, vec(i))): _*)
    val q = ValidateStream.knnGraphStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/corpus", s"$dir/ckpt", k = 3)
    q.processAllAvailable()
    // second batch exercises the normal merge path on the bootstrapped state
    mem.addData((100L, vec(1)), (101L, vec(2)))
    q.processAllAvailable()
    q.stop()
    val latest = ((0 until 20).map(i => (i.toLong, vec(i))) ++
      Seq((100L, vec(1)), (101L, vec(2)))).toDF("vec_id", "embedding")
    val live = VectorFunctions.knnGraphEdges(spark, s"$dir/idx")
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    val fresh = VectorFunctions.knnGraph(latest, "vec_id", "embedding", k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(live == fresh, "bootstrapped+merged graph must equal a fresh rebuild")
    assert(spark.read.parquet(s"$dir/corpus").count() == 22L)
  }

  test("streaming IVF-PQ maintenance: batches encode residuals against frozen parameters") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    val dim = 16
    def vec(i: Int) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 4) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val corpus = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivfpqstream")
    VectorFunctions.saveIvfPqIndex(corpus, "vec_id", "embedding", s"$dir/idx",
      clusters = 4, citers = 2, m = 4, dim = dim, ksub = 8, piters = 2)
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((1000L, vec(0)), (1001L, vec(1)))
    val q = ValidateStream.ivfPqIndexStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", m = 4, dim = dim, maxSegments = 2)
    q.processAllAvailable()
    mem.addData((1002L, vec(2)), (1000L, vec(3))) // re-ingest tombstones
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$dir/idx/segments").list()
      .count(_.matches("\\d{5}")) <= 2, "auto-compaction must bound segments")
    // live (cell, codes) == one fresh frozen-parameter pass over the
    // latest corpus — the mergeIvfPqDelta identity, through the stream
    val latest = (corpus.as[(Long, Array[Float])].collect().toSeq ++
      Seq((1001L, vec(1)), (1002L, vec(2)), (1000L, vec(3))))
      .toDF("vec_id", "embedding")
    val cents = spark.read.parquet(s"$dir/idx/centroids")
    val books = spark.read.parquet(s"$dir/idx/codebooks")
    val res = VectorFunctions.kmeansAssign(latest, "vec_id", "embedding", cents)
      .join(org.apache.spark.sql.functions.broadcast(cents), Seq("cid"))
      .withColumn("__res", zip_with(col("embedding").cast("array<double>"),
        col("centroid"), (a, b) => a - b))
      .select(col("vec_id"), col("cid").as("cell"), col("__res"))
    val expect = VectorFunctions
      .pqEncodePacked(res, "vec_id", "__res", books, 4, dim)
      .join(res.select("vec_id", "cell"), Seq("vec_id"))
      .select(col("vec_id").as("id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect().toSet
    val live = graft.functions.SegmentedIndex.liveRows(spark, s"$dir/idx", "codes")
      .select("id", "cell", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(live == expect,
      "streamed merges must equal a frozen-parameter re-encode")
  }

  test("streaming int8 maintenance: first batch creates, merges equal a fresh build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions
    val dim = 8
    def vec(i: Int) = Array.tabulate(dim) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.35f
    }
    val dir = tmpDir("int8stream")
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData((0 until 40).map(i => (i.toLong, vec(i))): _*)
    val q = ValidateStream.int8IndexStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", maxSegments = 2)
    q.processAllAvailable() // first batch CREATES the index
    mem.addData((40L, vec(40)), (3L, vec(41))) // add + re-ingest
    q.processAllAvailable()
    q.stop()
    val latest = ((0 until 40).filterNot(_ == 3).map(i => (i.toLong, vec(i))) ++
      Seq((40L, vec(40)), (3L, vec(41)))).toDF("vec_id", "embedding")
    val fresh = {
      val p = tmpDir("int8fresh") + "/idx"
      VectorFunctions.saveInt8Index(latest, "vec_id", "embedding", p)
      VectorFunctions.int8Codes(spark, p)
        .as[(Long, Seq[Double])].collect().toSet
    }
    val live = VectorFunctions.int8Codes(spark, s"$dir/idx")
      .as[(Long, Seq[Double])].collect().toSet
    assert(live == fresh, "streamed merges must equal a fresh build")
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

  test("streaming upkeep trustedDelta=false restores the loud dup guard") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = tmpDir("bm25dupguard")
    val q = ValidateStream.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/ckpt")
    mem.addData((1L, "alpha"), (2L, "beta"))
    q.processAllAvailable() // clean first batch creates the index
    // a CDC source that cannot prove uniqueness: two versions of doc 1
    // in one batch must FAIL the batch, not double-count stats
    mem.addData((1L, "gamma"), (1L, "gamma delta"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("multiple rows") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple rows")),
      s"expected the dup-guard message, got: ${e.getMessage}")
    // the failed batch committed nothing — segment 0 alone survives
    assert(graft.functions.SegmentedIndex
      .segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0))
  }

  test("streaming upkeep auto-compaction: segment count stays bounded, answers stable") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = tmpDir("bm25auto")
    val q = ValidateStream.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/ckpt", maxSegments = 2)
    // five micro-batches, incl. a replacement of doc 1 — without the
    // cap this tree would hold 5 segments
    Seq(
      Seq((1L, "alpha beta")), Seq((2L, "alpha gamma")),
      Seq((3L, "delta")), Seq((1L, "epsilon zeta")),
      Seq((4L, "alpha"))
    ).foreach { batch => mem.addData(batch: _*); q.processAllAvailable() }
    q.stop()
    val segs = new java.io.File(s"$dir/idx/segments").list().count(_.matches("\\d{5}"))
    assert(segs <= 3, s"auto-compaction must bound the tree, got $segs segments")
    val got = graft.functions.Curation.bm25TopKFromIndex(spark, s"$dir/idx",
        Seq(0L -> Seq("alpha"), 1L -> Seq("epsilon")), k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    val fresh = graft.functions.Curation.bm25TopK(
        Seq((1L, "epsilon zeta"), (2L, "alpha gamma"), (3L, "delta"),
          (4L, "alpha")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(0L -> Seq("alpha"), 1L -> Seq("epsilon")), k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == fresh, "compacted streamed index must equal a fresh rebuild")
  }

  test("streaming band-index maintenance: appended index finds near-dups of streamed docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "alpha beta gamma delta epsilon"),
      (2L, "completely different words entirely here"))
    val dir = tmpDir("bandidx")
    val elems = split(col("text"), " ")
    val q = ValidateStream.bandIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", elems,
      s"$dir/index", s"$dir/ckpt", k = 16, bands = 8)
    mem.addData((3L, "alpha beta gamma delta zeta")) // near-dup of 1
    q.processAllAvailable()
    q.stop()

    val index = spark.read.parquet(s"$dir/index")
    assert(index.select("id").distinct().count() == 3)
    // a later batch probes the persisted index exactly like the batch path
    val probe = Seq((10L, "alpha beta gamma delta theta")).toDF("doc_id", "text")
    val cands = graft.functions.DedupFunctions.incrementalNearDupCandidates(
        index, probe, "doc_id", elems, k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(cands.exists(_._2 == 1L), s"expected near-dup hit on doc 1, got $cands")
  }

  test("streaming bm25 maintenance: per-batch segments answer like a batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = tmpDir("bm25stream")
    mem.addData((1L, "spark shuffles wide joins"),
      (2L, "window functions sort partitions"))
    val q = ValidateStream.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/ckpt")
    q.processAllAvailable()
    // batch 2: one new doc + a REPLACEMENT of doc 1 (tombstone path)
    mem.addData((3L, "broadcast joins skip the shuffle"),
      (1L, "spark rewrote this document entirely"))
    q.processAllAvailable()
    q.stop()

    val qs = Seq(0L -> Seq("spark", "joins"), 1L -> Seq("shuffles"))
    val got = graft.functions.Curation
      .bm25TopKFromIndex(spark, s"$dir/index", qs, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    val latest = Seq(
      (1L, "spark rewrote this document entirely"),
      (2L, "window functions sort partitions"),
      (3L, "broadcast joins skip the shuffle")).toDF("doc_id", "text")
    val fresh = graft.functions.Curation
      .bm25TopK(latest, "doc_id", "text", qs, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == fresh)
    // query 1's term "shuffles" lived only in doc 1's RETIRED version
    assert(got.count(_._1 == 1L) == 0, s"retired tokens must not hit: $got")
  }

  test("streaming phrase-index upkeep: segments answer like a scan of the latest corpus") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = tmpDir("phrasestream")
    val q = ValidateStream.phraseIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", s"$dir/ckpt", maxSegments = 2)
    // four micro-batches incl. a replacement of doc 1 (its old phrase
    // "spark window" must stop matching) — the cap forces at least one
    // inline compaction along the way
    Seq(
      Seq((1L, "spark window functions"), (2L, "merge sort agg")),
      Seq((3L, "spark spark window")),
      Seq((1L, "rewritten without the phrase")),
      Seq((4L, "window spark window"))
    ).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(graft.functions.SegmentedIndex
      .segmentDirs(spark, s"$dir/idx").size <= 3)
    val phrases = Seq(0L -> Seq("spark", "window"), 1L -> Seq("merge", "sort"))
    val latest = Seq(
      (1L, "rewritten without the phrase"), (2L, "merge sort agg"),
      (3L, "spark spark window"), (4L, "window spark window")
    ).toDF("doc_id", "text")
    assert(
      graft.functions.PhraseSearch
        .phraseSearchFromIndex(spark, s"$dir/idx", phrases)
        .collect().toSeq ==
        graft.functions.PhraseSearch
          .phraseSearch(latest, "doc_id", "text", phrases)
          .collect().toSeq)
  }

  test("stream compaction defers (not crashes) on unreadable run-log content") {
    // a FOREIGN file in the pins dir whose \u escape explodes deep in
    // CorpusSnapshot.read (NumberFormatException, not the
    // IllegalArgumentException the manifest count-check raises) — the
    // upkeep stream's pinned() must treat ANY unreadable run-log as
    // "maybe pinned" and defer compaction, never die mid-stream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = tmpDir("bm25defer")
    val pins = s"$dir/pins"
    new java.io.File(pins).mkdirs()
    // (backslash-u assembled at runtime: the Scala lexer would reject
    // a literal invalid unicode escape even inside triple quotes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$pins/garbage.json"),
      ("""{"x":{"path":"a""" + "\\" + """uZZZZ","segment":0,"tree":"t"}}""")
        .getBytes("UTF-8"))
    val q = ValidateStream.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/ckpt", maxSegments = 1,
      pinnedBy = Some(pins))
    try {
      mem.addData((1L, "alpha beta"), (2L, "gamma delta"))
      q.processAllAvailable()
      mem.addData((3L, "epsilon zeta"))
      q.processAllAvailable()
      // stream survived AND compaction deferred: tree kept both segments
      assert(q.isActive, "stream must survive unreadable run-log content")
      assert(graft.functions.SegmentedIndex
        .segmentDirs(spark, s"$dir/index").size == 2)
    } finally q.stop()
    // cleaning the garbage lets the next batch compact as usual
    assert(new java.io.File(s"$pins/garbage.json").delete())
    val q2 = ValidateStream.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", s"$dir/ckpt", maxSegments = 1,
      pinnedBy = Some(pins))
    try {
      mem.addData((4L, "eta theta"))
      q2.processAllAvailable()
      assert(graft.functions.SegmentedIndex
        .segmentDirs(spark, s"$dir/index").size == 1)
    } finally q2.stop()
  }

  test("streaming session_window: sessions close when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    // u1: two sessions (gap 5m, break at 12m); u2: one; sentinel far in
    // the future advances the watermark so every session closes
    mem.addData((at(0), 1L), (at(2), 1L), (at(14), 1L), (at(1), 2L))
    mem.addData((at(600), 99L))
    val sessions = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "1 minute")
      .groupBy(col("user"),
        org.apache.spark.sql.functions.session_window(col("ts"), "5 minutes"))
      .count()
      .select(col("user"), col("count"))
    val q = sessions.writeStream.format("memory").queryName("sess_native")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val got = spark.table("sess_native").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got(1L) == Seq(1L, 2L)) // sessions of 2 events and 1 event
    assert(got(2L) == Seq(1L))
  }

  test("streaming scd2: dimension history accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("scd2-stream")
    val table = s"$dir/dim"
    // batch 0: initial snapshot; batch 1: pk 2 changes, pk 3 retired, pk 4 new
    val mem1 = MemoryStream[(Long, String)]
    mem1.addData((1L, "a"), (2L, "b"), (3L, "c"))
    val q1 = ValidateStream.scd2Stream(mem1.toDF().toDF("pk", "attr"),
      Seq("pk"), Seq("attr"), tsOf = _ + 10L, table, s"$dir/cp1").start()
    q1.awaitTermination(30000)
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((1L, "a"), (2L, "b2"), (4L, "d"))
    val q2 = ValidateStream.scd2Stream(mem2.toDF().toDF("pk", "attr"),
      Seq("pk"), Seq("attr"), tsOf = _ + 11L, table, s"$dir/cp2").start()
    q2.awaitTermination(30000)
    val hist = spark.read.parquet(table)
      .select("pk", "attr", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(hist == Set(
      (1L, "a", 10L, None),                    // unchanged, still open
      (2L, "b", 10L, Some(11L)),               // closed at batch-1 ts
      (2L, "b2", 11L, None),                   // reopened with new attr
      (3L, "c", 10L, Some(11L)),               // retired
      (4L, "d", 11L, None)))                   // new key
  }

  test("stream-stream interval join: views within lookback of each click") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val views  = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    clicks.addData((at(90), 1L, 100L))            // click by user 1
    views.addData(
      (at(80), 1L, 200L),                         // within 1h lookback → match
      (at(85), 1L, 201L),                         // within lookback → match
      (at(95), 1L, 202L),                         // AFTER the click → no match
      (at(20), 1L, 203L),                         // too far back (>1h) → no match
      (at(85), 2L, 204L))                         // other user → no match
    val joined = ValidateStream.intervalJoin(
      clicks.toDF().toDF("c_ts", "c_user", "click_id"),
      views.toDF().toDF("v_ts", "v_user", "view_id"),
      "c_user", "v_user", "c_ts", "v_ts",
      lookback = "1 hour", watermark = "2 hours")
    val q = joined.select("click_id", "view_id").writeStream
      .format("memory").queryName("attrib").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val got = spark.table("attrib").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 200L), (100L, 201L)))
  }

  test("streaming upsert: micro-batches merge into the parquet table by PK") {
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("stream-upsert") + "/t"
    val cp1 = tmpDir("stream-upsert-cp1")
    val mem1 = MemoryStream[(Int, String)]
    mem1.addData((1, "a"), (2, "b"))
    val q1 = ValidateStream.upsertStream(
      mem1.toDF().toDF("id", "v"), Seq("id"), table, cp1).start()
    q1.awaitTermination(30000)

    val cp2 = tmpDir("stream-upsert-cp2")
    val mem2 = MemoryStream[(Int, String)]
    mem2.addData((2, "B"), (3, "c")) // update 2, insert 3
    val q2 = ValidateStream.upsertStream(
      mem2.toDF().toDF("id", "v"), Seq("id"), table, cp2).start()
    q2.awaitTermination(30000)

    val rows = spark.read.parquet(table).as[(Int, String)].collect().toSet
    assert(rows == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("streaming phash index: upkeep folds batches, delete + replace + inline compaction") {
    import graft.multimodal.{ImageFixture, Multimodal}
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("phash-stream") + "/idx"
    val cp = tmpDir("phash-stream-cp")
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = ValidateStream.phashIndexStream(
      mem.toDF().toDF("id", "payload"), "id", "payload", path, cp,
      maxSegments = 1)
    try {
      mem.addData((2L, ImageFixture.build(2L)), (4L, ImageFixture.build(4L)))
      q.processAllAvailable()
      // batch 2: id 4 re-ingested with DIFFERENT content, id 6 new,
      // id 2 deleted via null payload
      mem.addData((4L, ImageFixture.build(40L)), (6L, ImageFixture.build(6L)),
        (2L, null))
      q.processAllAvailable()
    } finally q.stop()
    def h(i: Long): Long =
      Multimodal.ImageCodec.perceptualHash(ImageFixture.build(i)).get
    val live = Multimodal.phashIndexRows(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(live == Map(4L -> h(40L), 6L -> h(6L)))
    // inline compaction held the tree at one segment
    assert(graft.functions.SegmentedIndex.segmentDirs(spark, path).size == 1)
    // the probe gate sees the REPLACED content, and nothing for id 2
    val probe = Multimodal.probePHashIndex(path,
        Seq((100L, h(40L)), (101L, h(2L))).toDF("id", "ph"), "id", "ph",
        maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(probe == Set((100L, 4L, 0L)))
  }

  test("streaming funnel: cross-batch state continues; final slots equal the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "buy")
    val b1 = Seq(
      FunnelStream.StepEvent(1L, 10L, "view"),   // continues in batch 2
      FunnelStream.StepEvent(2L, 20L, "click"),  // before any view: dead
      FunnelStream.StepEvent(3L, 15L, "view"),
      FunnelStream.StepEvent(3L, 12L, "noise"))  // filtered
    val b2 = Seq(
      FunnelStream.StepEvent(1L, 30L, "click"),  // fills slot 2 cross-batch
      FunnelStream.StepEvent(1L, 40L, "buy"),
      FunnelStream.StepEvent(2L, 25L, "view"),   // view after the dead click
      FunnelStream.StepEvent(3L, 15L, "click"))  // tie with view: not later
    val mem = MemoryStream[FunnelStream.StepEvent]
    val funnels = FunnelStream.userFunnels(mem.toDS(), steps)
    val q = funnels.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // latest emission per user: slots only ever fill (monotone state),
    // so the most-filled emission is the current one
    val got = spark.table("funnel_stream").as[FunnelStream.UserFunnel]
      .collect().groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.maxBy(_.slots.count(_ != -1L)).slots }
    assert(got == Map(
      1L -> Seq(10L, 30L, 40L),
      2L -> Seq(25L, -1L, -1L),
      3L -> Seq(15L, -1L, -1L)))
    // batch twin: the same history through Funnel.userSlots (null = -1)
    val all = (b1 ++ b2).toDF()
    val batch = graft.operators.Funnel.userSlots(
        all, "user_id", "ts_ms", "event_type", steps)
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Any](1).map(v => if (v == null) -1L else v)
      }.toMap
    assert(batch == got, s"stream $got vs batch $batch")
  }
}
