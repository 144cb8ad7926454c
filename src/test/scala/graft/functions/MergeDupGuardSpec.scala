package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.Multimodal

/** The one-version-per-id guard of every persisted-index merge: a delta
  * carrying two rows for one id must fail with the "multiple rows"
  * message and commit no segment — tombstones mask only EARLIER
  * segments, so both versions would otherwise stay live.
  */
class MergeDupGuardSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma epsilon zeta"),
    (3L, "eta theta iota kappa")).toDF("doc_id", "text")
  private val textDup = Seq((1L, "gamma delta epsilon"), (1L, "zeta eta theta"),
    (4L, "lambda mu nu xi")).toDF("doc_id", "text")
  private val toks = array_distinct(TextFunctions.tokens(lower(col("text"))))

  private def vec(i: Int): Array[Float] = Array.tabulate(8) { d =>
    (if (d == (i % 4) * 2) 10.0f else 0.0f) + ((i * 31 + d * 7) % 5) * 0.1f
  }
  private val vecs = (0 until 16).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  private val vecDup = Seq((1L, vec(5)), (1L, vec(6)), (99L, vec(7)))
    .toDF("vec_id", "embedding")

  /** (index, build at path, merge the duplicate-carrying delta at path) */
  private val merges: Seq[(String, String => Unit, String => Unit)] = Seq(
    ("bm25",
      Curation.saveBm25Index(docs, "doc_id", "text", _),
      Curation.mergeBm25Delta(textDup, "doc_id", "text", _)),
    ("positional",
      PhraseSearch.savePositionalIndex(docs, "doc_id", "text", _),
      PhraseSearch.mergePositionalDelta(textDup, "doc_id", "text", _)),
    ("repeated-span",
      DedupFunctions.saveRepeatedSpanIndex(docs, "doc_id", "text", _, n = 2),
      DedupFunctions.mergeRepeatedSpanDelta(textDup, "doc_id", "text", _, n = 2)),
    ("simhash",
      DedupFunctions.saveSimhashIndex(docs, "doc_id", toks, _),
      DedupFunctions.mergeSimhashDelta(textDup, "doc_id", toks, _)),
    ("digest",
      DedupFunctions.saveDigestIndex(docs, "doc_id", "text", _),
      DedupFunctions.mergeDigestDelta(textDup, "doc_id", "text", _)),
    ("band",
      DedupFunctions.saveBandIndexPersisted(docs, "doc_id", toks, _, k = 4, bands = 2),
      DedupFunctions.mergeBandDelta(textDup, "doc_id", toks, _, k = 4, bands = 2)),
    ("winnow",
      DedupFunctions.saveWinnowIndexPersisted(docs, "doc_id", "text", _, k = 5, w = 4),
      DedupFunctions.mergeWinnowDelta(textDup, "doc_id", "text", _, k = 5, w = 4)),
    ("ivf",
      VectorFunctions.saveIvfIndex(vecs, "vec_id", "embedding", _, clusters = 2, iters = 2),
      VectorFunctions.mergeIvfDelta(vecDup, "vec_id", "embedding", _)),
    ("pq",
      VectorFunctions.savePqIndex(vecs, "vec_id", "embedding", _,
        m = 4, dim = 8, ksub = 4, iters = 2),
      VectorFunctions.mergePqDelta(vecDup, "vec_id", "embedding", _, m = 4, dim = 8)),
    ("ivf-pq",
      VectorFunctions.saveIvfPqIndex(vecs, "vec_id", "embedding", _,
        clusters = 2, citers = 2, m = 4, dim = 8, ksub = 4, piters = 2),
      VectorFunctions.mergeIvfPqDelta(vecDup, "vec_id", "embedding", _, m = 4, dim = 8)),
    ("int8",
      VectorFunctions.saveInt8Index(vecs, "vec_id", "embedding", _),
      VectorFunctions.mergeInt8Delta(vecDup, "vec_id", "embedding", _)),
    ("phash", {
      val hashes: DataFrame = Seq((1L, 10L), (2L, 20L)).toDF("id", "ph")
      Multimodal.savePHashIndex(hashes, "id", "ph", _)
    }, {
      val hashes: DataFrame = Seq((1L, 11L), (1L, 12L)).toDF("id", "ph")
      Multimodal.mergePHashDelta(hashes.select("id"), hashes, "id", "ph", _)
    }))

  test("every index merge rejects two rows for one id and commits nothing") {
    assert(merges.size == 12)
    merges.foreach { case (name, build, merge) =>
      val path = s"${tmpDir(s"dup-$name")}/idx"
      build(path)
      val e = intercept[IllegalArgumentException](merge(path))
      assert(e.getMessage.contains("multiple rows"), s"$name: ${e.getMessage}")
      assert(SegmentedIndex.segmentDirs(spark, path).map(_._1) == Seq(0),
        s"$name: the rejected merge must not commit a segment")
    }
  }
}
