package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import perfbench.Trace.span

/** curation_tail: the slowest curation queries of the 270-query suite,
  * run one after another through the query registry, with caches, the
  * registry's shared intermediates and the phase timer cleared between
  * queries.
  *
  * The corpus (documents, embeddings) is generated from a fixed seed so
  * each query's row count and order-independent digest can be pinned
  * (curation_pinned.tsv); the run's seed picks the order in which the
  * queries run, which moves what each one inherits from the last.
  */
final class CurationTail(spark: SparkSession, work: Path, seed: Long, pinnedFile: Path)
    extends Workload {
  private val corpus: Path = work.resolve("corpus")
  CurationTail.writeCorpus(spark, corpus)
  private val order = GenieUpload.shuffle(CurationTail.queries, new SplittableRandom(seed))
  private val pinned: Map[String, (Long, String)] =
    Files.readAllLines(pinnedFile, UTF_8).asScala.filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(q, n, d) => q -> (n.toLong, d) }.toMap

  def inputRows: Long = CurationTail.documents + CurationTail.embeddings

  private val queryTotals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private var leftoverBlocks = 0L

  def iterate(ops: Ops): Iteration = {
    val stages = order.map { q =>
      reset()
      val t0 = System.nanoTime()
      val rows = try {
        Some(span(q, "functions")(SparkEntry.queries(q)(spark, corpus.toString).collect()))
      } catch {
        case e: Exception =>
          ops.check(s"query $q", ok = false, e.toString); None
      }
      val s = (System.nanoTime() - t0) / 1e9
      HeapPeak.sample()
      leftoverBlocks += spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
      graft.tools.PhaseTimer.drain().foreach { case (ph, v) => queryTotals(s"$q.$ph") += v }
      queryTotals(q) += s
      rows.foreach { r =>
        val got = (r.length.toLong, CurationTail.digest(r))
        pinned.get(q) match {
          case Some(want) => ops.check(s"query $q output", got == want, s"got $got, pinned $want")
          case None => ops.check(s"query $q pinned", ok = false, s"no pinned value; got $got")
        }
      }
      q -> s
    }
    reset()
    Iteration(stages, 0L, 0L)
  }

  private def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkEntry.resetSharedIntermediates()
    graft.tools.PhaseTimer.drain()
  }

  override def layerMetrics(iterations: Int): Map[String, Double] =
    queryTotals.map { case (k, v) => s"functions.${k}_s" -> v / iterations }.toMap +
      ("core.leftover_blocks" -> leftoverBlocks.toDouble / iterations)
}

object CurationTail {
  /** Four of the twelve queries in the round-13 suite bench's `isolated`
    * block: the open optimisation targets that fit the run budget (the
    * twelve take about a minute per pass on 4 cores). */
  val queries: Seq[String] = Seq("dedup_repeated_removal", "dedup_minhash_audit",
    "dedup_simhash_incremental", "text_bm25_asof")

  val corpusSeed = 42L
  val documents = 1000
  val embeddings = 400
  private val words = ("a the data spark line column order small sort fast value scan hash slow " +
    "group batch agg filter query big key window row part table stream merge vector join " +
    "customer").split(" ")
  private val langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  /** The shape of the suite's `documents` and `embeddings` tables at a
    * fifth of sf0.1: 1000 word-salad documents over a 31-word vocabulary
    * (so near-duplicates are common), 400 64-d vectors around 10
    * labelled centres. One parquet file per table. */
  def writeCorpus(spark: SparkSession, dir: Path): Unit = {
    val rnd = new SplittableRandom(corpusSeed)
    val langPick = langs.flatMap { case (l, w) => Seq.fill(w)(l) }
    val docs = (0 until documents).map { i =>
      val text = (0 until 8 + rnd.nextInt(72)).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      Row(i.toLong, text, langPick(rnd.nextInt(langPick.size)), s"src${i % 20}", text.length.toLong)
    }
    val centres = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until embeddings).map { i =>
      val label = rnd.nextInt(10)
      val v = centres(label).map(c => (c * 0.2 + (rnd.nextDouble() - 0.5) * 0.3).toFloat).toSeq
      Row(i.toLong, v, label)
    }
    writeOne(spark, dir, "documents", docs, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    writeOne(spark, dir, "embeddings", vecs, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
  }

  private def writeOne(spark: SparkSession, dir: Path, name: String, rows: Seq[Row],
                       schema: StructType): Unit = {
    val tmp = dir.resolve(s"_$name")
    Io.deleteTree(tmp)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Io.deleteTree(tmp)
  }

  /** Order-independent digest: sum of the first 8 bytes of each row's
    * MD5, hex. Doubles print with full precision through Row.toString. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val h = md.digest(r.toString.getBytes(UTF_8))
      acc + java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$sum%016x"
  }
}
