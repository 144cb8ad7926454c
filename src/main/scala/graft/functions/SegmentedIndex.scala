package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lucene-style segment + tombstone machinery shared by every persisted
  * index in the engine (BM25 postings, IVF cells, PQ codes, the dedup
  * band/winnow/digest indexes).
  *
  * Layout: `$path/segments/NNNNN/<subtable>` parquet trees, NNNNN a
  * zero-padded ascending segment number. Each segment carries its delta
  * rows per subtable plus a `tombstones` table of REPLACED ids: a row of
  * segment i is dead iff a LATER segment re-ingested (or retracted) its
  * id. Readers list only `\d{5}` names, so an in-flight `__tmp_*` write
  * is invisible until its atomic rename; a crashed writer's orphan tmp
  * tree is ignored by readers and swept before the next write.
  *
  * Scale contract: a refresh writes |delta|-sized files and never
  * rewrites existing segments; the tombstone mask is an id-keyed
  * anti-join whose right side is replacement-sized; compaction folds
  * live rows back to one segment and swaps the tree in two renames.
  * Single-writer per index path (see [[commitSegment]]); readers are
  * unrestricted and always see a committed tree.
  */
object SegmentedIndex {

  def hfs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def segName(n: Int): String = f"$n%05d"

  /** Committed (segNumber, absoluteDir) pairs under `$path/segments`,
    * ascending. `__tmp_*` trees never match the `\d{5}` filter.
    */
  def segmentDirs(spark: SparkSession, path: String): Seq[(Int, String)] = {
    val (fs, root) = hfs(spark, s"$path/segments")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("\\d{5}"))
      .map(s => (s.getPath.getName.toInt, s.getPath.toString))
      .sortBy(_._1)
  }

  def exists(spark: SparkSession, path: String): Boolean =
    segmentDirs(spark, path).nonEmpty

  /** Newest committed segment number — the `asOf` pin that freezes the
    * index at its current state.
    */
  def currentSegment(spark: SparkSession, path: String): Int = {
    val segs = segmentDirs(spark, path)
    require(segs.nonEmpty, s"no segmented index at $path")
    segs.map(_._1).max
  }

  /** Delete orphan `__tmp_*` trees left by a crashed writer. Safe under
    * the single-writer contract: no live writer owns a tmp dir when a
    * new write starts.
    */
  def sweepOrphanTmp(fs: FileSystem, segRoot: Path): Unit =
    if (fs.exists(segRoot))
      fs.listStatus(segRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__tmp_"))
        .foreach(s => fs.delete(s.getPath, true))

  /** Write segment `n`: `write(tmpDir)` materializes every subtable
    * under `$root/__tmp_NNNNN`, then one rename commits it. The
    * exists-guard turns the corruption mode of a concurrent-writer race
    * (rename onto an existing directory nests the source inside it and
    * returns true on local/HDFS filesystems) into a loud failure —
    * writers are single-writer per index path by contract.
    */
  def commitSegment(spark: SparkSession, root: String, n: Int)
                   (write: String => Unit): Unit = {
    val tmp = s"$root/__tmp_${segName(n)}"
    val (fs, tmpP) = hfs(spark, tmp)
    sweepOrphanTmp(fs, tmpP.getParent)
    write(tmp)
    val dest = new Path(s"$root/${segName(n)}")
    if (fs.exists(dest))
      throw new IllegalStateException(
        s"segment $dest already exists — concurrent writer on $root? " +
          "(single-writer contract)")
    if (!fs.rename(tmpP, dest))
      throw new IllegalStateException(s"segment commit failed: $tmp -> $dest")
    // tree identity: a fresh marker per segments tree. Segment numbers
    // restart at 0 after a rebuild or compaction swap, so a pinned
    // `asOf` from before either would otherwise silently read the NEW
    // tree's rows — snapshot validation compares this id instead
    // (CorpusSnapshot.verify). Written once per tree, preserved by
    // merges, replaced by rebuild/compaction (which build a new root).
    val marker = new Path(s"$root/_tree")
    if (!fs.exists(marker)) {
      val out = fs.create(marker, false)
      try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Identity of the current segments tree — changes on every rebuild
    * or compaction, survives merges. The pin-validity token for
    * [[graft.functions.CorpusSnapshot]].
    */
  def treeId(spark: SparkSession, path: String): String = {
    val (fs, marker) = hfs(spark, s"$path/segments/_tree")
    require(fs.exists(marker), s"no segmented index (or pre-identity " +
      s"tree) at $path")
    val in = fs.open(marker)
    try {
      // loop: a single read() may legally return fewer bytes than the
      // file holds, and a truncated id would mis-verify every pin
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](64)
      var n = in.read(b)
      while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Union one subtable across segments with dead versions masked: a
    * row from segment i is dead iff a LATER segment tombstoned its id.
    * When parquet footer row counts (no job) show zero tombstones
    * anywhere, the mask is skipped and this is a plain union of
    * segment scans. Every masked subtable must carry an `id` column.
    *
    * `asOf` is the snapshot read (time travel): only segments `<= asOf`
    * contribute rows AND tombstones, so the result is bit-identical to
    * what a reader saw right after segment `asOf` committed — a later
    * delete/re-ingest cannot reach back into the snapshot. Because
    * segments are immutable, a pinned `asOf` read is reproducible for
    * as long as the segments exist; [[compactIndex]] collapses history,
    * after which only the compacted state is addressable.
    */
  def liveRows(spark: SparkSession, path: String, sub: String,
               asOf: Int = Int.MaxValue): DataFrame = {
    val segs = segmentDirs(spark, path).filter(_._1 <= asOf)
    require(segs.nonEmpty,
      s"no segmented index at $path" +
        (if (asOf != Int.MaxValue) s" as of segment $asOf" else ""))
    val all = segs.map { case (i, d) =>
      spark.read.parquet(s"$d/$sub").withColumn("__seg", lit(i)) }
      .reduce(_ unionByName _)
    val tombSegs = segs.filter { case (_, d) =>
      graft.sources.ParquetMeta.rowCount(spark, s"$d/tombstones") > 0 }
    if (tombSegs.isEmpty) all.drop("__seg")
    else {
      val tombs = tombSegs.map { case (i, d) =>
        spark.read.parquet(s"$d/tombstones")
          .select(col("id").as("__tid"), lit(i).as("__tseg")) }
        .reduce(_ unionByName _)
      all.join(tombs,
          all("id") === col("__tid") && col("__tseg") > col("__seg"),
          "left_anti")
        .drop("__seg")
    }
  }

  /** Footer-only introspection: (segment, rows in `sub`, tombstones)
    * per committed segment, read from parquet footers — ZERO Spark
    * jobs, so an operator can watch segment growth and schedule
    * compaction on a 100 TB index without touching the cluster. For
    * one-row-per-id subtables (doclen, digests) live row count =
    * Σrows − Σtombstones, since every tombstone kills exactly one
    * earlier live row.
    */
  def describe(spark: SparkSession, path: String,
               sub: String): Seq[(Int, Long, Long)] =
    segmentDirs(spark, path).map { case (i, d) =>
      (i, graft.sources.ParquetMeta.rowCount(spark, s"$d/$sub"),
        graft.sources.ParquetMeta.rowCount(spark, s"$d/tombstones"))
    }

  /** Change log between two snapshots of one index: the net per-id
    * transition from the state at `fromSeg` to the state at `toSeg` —
    * `added` (live at B, not at A), `replaced` (live at both, version
    * changed), `deleted` (live at A, tombstoned by B). Ids that were
    * both added and deleted INSIDE the range net to no change and are
    * omitted, matching a diff of the two live sets.
    *
    * Cost shape: only the range's segments — delta-sized — are read
    * for the event log; the state-at-A flag is one id-column semi-join
    * against the pinned snapshot (the same join every delta merge
    * already pays). No current-state full diff, no data columns move.
    * The audit answer to "what changed between these two training
    * runs' pins".
    */
  def changedBetween(spark: SparkSession, path: String, sub: String,
                     fromSeg: Int, toSeg: Int): DataFrame = {
    require(fromSeg < toSeg, s"need fromSeg < toSeg, got $fromSeg, $toSeg")
    val range = segmentDirs(spark, path)
      .filter { case (i, _) => i > fromSeg && i <= toSeg }
    require(range.nonEmpty, s"no segments in ($fromSeg, $toSeg] at $path")
    // fromSeg < 0 diffs against the EMPTY index: every live-at-B id is
    // an addition (bootstrap audit of a fresh pin)
    def ids(subdir: String) = range.map { case (i, d) =>
      spark.read.parquet(s"$d/$subdir").select(col("id"), lit(i).as("__s")) }
      .reduce(_ unionByName _)
    // last event in range wins: a replacement writes row+tombstone in
    // ONE segment (row current), a deletion writes only the tombstone
    val lastRow = ids(sub).groupBy("id").agg(max(col("__s")).as("__r"))
    val lastTomb = ids("tombstones").groupBy("id").agg(max(col("__s")).as("__t"))
    val events = lastRow.join(lastTomb, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("__r"), lit(-1)).as("__r"),
        coalesce(col("__t"), lit(-1)).as("__t"))
    val liveA =
      (if (fromSeg < 0) range.head match { case (_, d) =>
          spark.read.parquet(s"$d/$sub").select(col("id")).limit(0) }
       else liveRows(spark, path, sub, fromSeg).select(col("id")).distinct())
        .withColumn("__a", lit(true))
    events.join(liveA, Seq("id"), "left")
      .select(col("id"),
        when(col("__r") >= col("__t"),
          when(col("__a").isNotNull, lit("replaced")).otherwise(lit("added")))
          .otherwise(when(col("__a").isNotNull, lit("deleted"))
            .otherwise(lit(null).cast("string"))).as("change"))
      .filter(col("change").isNotNull)
  }

  /** Clone the tree at `path` AS OF segment `asOf` into `destPath`:
    * segments <= asOf plus any sibling top-level tables (centroids,
    * codebooks) are copied byte-for-byte, and the tree identity marker
    * rides along so a manifest re-pointed at the clone still verifies.
    * A pure filesystem copy of immutable files — zero Spark jobs; cost
    * is the pinned bytes, which is the price of retention by
    * definition. The constructive half of the compaction retention
    * guard: preserve the pinned history aside, then compact the live
    * tree.
    */
  def cloneAt(spark: SparkSession, path: String, destPath: String,
              asOf: Int): Unit = {
    val segs = segmentDirs(spark, path).filter(_._1 <= asOf)
    require(segs.nonEmpty, s"no segments <= $asOf at $path")
    val (fs, src) = hfs(spark, path)
    // dest gets its OWN FileSystem (it may live on a different scheme
    // than the source tree), and the WHOLE destination must be absent:
    // a partial dir left by a crashed earlier preserve (e.g. stray
    // centroids) would make FileUtil.copy nest into it
    // (dest/centroids/centroids) and yield a silently inconsistent
    // clone — refuse instead and let the caller clean up explicitly
    val (dfs, dest) = hfs(spark, destPath)
    require(!dfs.exists(dest),
      s"clone destination $destPath already exists — remove it first " +
        "(a partial dir would absorb copies into nested subdirs)")
    val conf = spark.sessionState.newHadoopConf()
    def copy(from: Path, to: Path): Unit = {
      if (!org.apache.hadoop.fs.FileUtil.copy(fs, from, dfs, to,
          false /* keep source */, conf))
        throw new IllegalStateException(s"clone copy failed: $from -> $to")
    }
    segs.foreach { case (_, d) =>
      val seg = new Path(d)
      copy(seg, new Path(s"$destPath/segments/${seg.getName}"))
    }
    copy(new Path(s"$path/segments/_tree"),
      new Path(s"$destPath/segments/_tree"))
    // sibling parameter tables (IVF centroids, PQ codebooks) are part
    // of the index identity — frozen at build time, so as-of-invariant
    fs.listStatus(src).toSeq
      .filter(s => s.getPath.getName != "segments" &&
        !s.getPath.getName.startsWith("__"))
      .foreach(s => copy(s.getPath, new Path(s"$destPath/${s.getPath.getName}")))
  }

  /** The empty tombstone table of a new segment, built from `ids`'
    * schema alone. Writing `ids.limit(0)` in a thunk overlapped with
    * the write of the frame `ids` comes from would plan that frame twice
    * at once; when it is driver-local, both optimizer passes evaluate
    * its projection on the driver and share the lambda variables of its
    * higher-order functions, so rows of the other write come out mixed
    * (seen as PQ codes computed from another row's vector).
    */
  def noTombstones(ids: DataFrame): DataFrame =
    ids.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), ids.schema)

  /** Full (re)build of a single-subtable index: drop any prior tree,
    * write `rows` (which must carry an `id` column) as segment 00000
    * with empty tombstones. The shared build path of the digest/band/
    * winnow dedup indexes.
    */
  def createIndex(spark: SparkSession, path: String, sub: String,
                  rows: DataFrame): Unit = {
    val (fs, segRoot) = hfs(spark, s"$path/segments")
    if (fs.exists(segRoot)) fs.delete(segRoot, true)
    commitSegment(spark, s"$path/segments", 0) { tmp =>
      // independent writes over distinct dirs — overlap (§2.6)
      graft.core.Fan.overlap(Seq(
        () => rows.write.mode("overwrite").parquet(s"$tmp/$sub"),
        () => noTombstones(rows.select("id"))
          .write.mode("overwrite").parquet(s"$tmp/tombstones")))
    }
  }

  /** O(delta) refresh of a single-subtable index: `deltaIds` is the
    * delta's id set — one version per id (asserted); every live id in
    * it is tombstoned (replaced or deleted). `rows` are the delta's
    * derived index rows — for a deletion the derivation yields no rows
    * (null content hashes to nothing), so the id is tombstoned and
    * nothing re-ingested, exactly the BM25 null-text contract.
    */
  def mergeDeltaRows(spark: SparkSession, path: String, sub: String,
                     deltaIds: DataFrame, rows: DataFrame,
                     idsKnownLive: Boolean = false): Unit = {
    val segs = segmentDirs(spark, path)
    require(segs.nonEmpty, s"no segmented index at $path — createIndex first")
    val n = segs.map(_._1).max + 1
    val ids = deltaIds.select(col(deltaIds.columns.head).as("id")).persist()
    try {
      // `idsKnownLive` is the repair-merge fast path: when the caller
      // ASSERTS every delta id is currently live (a kNN-graph repair
      // rewrites only lists it just read from the live view, one per
      // id), both the dup guard and the live-intersection read of the
      // whole segment tree are pure overhead — the ids ARE the replaced
      // set. The caller owns the invariant: a non-live id here would
      // inflate the tombstone table and break describe()'s live-count
      // arithmetic.
      if (!idsKnownLive) {
        val dup = ids.groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"delta has multiple rows for id ${dup.head.get(0)} — a segment " +
            "holds one version per id; reduce to last-per-key first")
      }
      // (.distinct() on the fast path: the slow path's semi-join yields
      // one tombstone per id; duplicate ids from a caller must not
      // inflate describe()'s live-count arithmetic — cheap, the set is
      // delta-sized and already persisted)
      val replaced =
        if (idsKnownLive) ids.distinct()
        else liveRows(spark, path, sub).select("id").distinct()
          .join(ids, Seq("id"), "left_semi")
      commitSegment(spark, s"$path/segments", n) { tmp =>
        // independent writes over distinct dirs — overlap (§2.6); both
        // sides read only the persisted ids / immutable segments
        graft.core.Fan.overlap(Seq(
          () => rows.write.mode("overwrite").parquet(s"$tmp/$sub"),
          () => replaced.write.mode("overwrite").parquet(s"$tmp/tombstones")))
      }
    } finally ids.unpersist()
  }

  /** Refuse to collapse a tree that live snapshot manifests still pin.
    * Compaction restarts segment numbering under a NEW tree id, so ANY
    * pin onto the current tree — even one at the newest segment — stops
    * replaying after it; without this guard a routine compaction
    * silently breaks every manifest written before it. `pinnedBy` is
    * the caller's manifest file or run-log directory
    * ([[CorpusSnapshot.pinsOn]]); None preserves the documented
    * unguarded vacuum trade for callers without a snapshot discipline.
    */
  def requireNotPinned(spark: SparkSession, path: String,
                       pinnedBy: Option[String]): Unit =
    pinnedBy.foreach { src =>
      val pins = CorpusSnapshot.pinsOn(spark, path, src)
      if (pins.nonEmpty) {
        val (m, label, seg) = pins.head
        throw new IllegalStateException(
          s"refusing to compact $path: ${pins.size} live snapshot pin(s) " +
            s"reference its current tree (first: '$label' @ segment $seg " +
            s"in $m) — compaction would collapse the pinned history; " +
            "retire or re-pin those manifests first")
      }
    }

  /** Fold a single-subtable index back to segment 00000 (two-rename
    * swap; answers unchanged). `pinnedBy` guards live snapshot pins —
    * see [[requireNotPinned]]. `shape` re-applies the index's physical
    * layout (range partitioning / sort keys) to the folded rows —
    * without it a compaction would silently discard the clustering
    * the per-segment writers established and the query-side pushdown
    * prunes on.
    */
  def compactIndex(spark: SparkSession, path: String, sub: String,
                   pinnedBy: Option[String] = None,
                   shape: DataFrame => DataFrame = identity): Unit =
    compactTree(spark, path, pinnedBy) { (tmpRoot, _) =>
      val live = liveRows(spark, path, sub)
      commitSegment(spark, tmpRoot, 0) { tmp =>
        shape(live).write.mode("overwrite").parquet(s"$tmp/$sub")
        live.select("id").limit(0)
          .write.mode("overwrite").parquet(s"$tmp/tombstones")
      }
    }

  /** The compaction frame every index shares: a single segment is
    * compact by construction; otherwise refuse live pins, clear a
    * crashed compactor's tmp tree, let `fold(tmpRoot, segments)` commit
    * the folded segment 00000 under `tmpRoot`, and swap that tree in
    * with the two-rename discipline of [[graft.sources.Layout.swapDirs]].
    * Compaction collapses segment HISTORY: `asOf` reads older than it
    * stop being answerable (the lakehouse vacuum trade).
    */
  private[functions] def compactTree(spark: SparkSession, path: String,
                                     pinnedBy: Option[String])
                                    (fold: (String, Seq[(Int, String)]) => Unit): Unit = {
    val segs = segmentDirs(spark, path)
    require(segs.nonEmpty, s"no segmented index at $path")
    if (segs.size == 1) return
    requireNotPinned(spark, path, pinnedBy)
    val tmpRoot = s"$path/__segments_tmp"
    val (fs, tmpP) = hfs(spark, tmpRoot)
    if (fs.exists(tmpP)) fs.delete(tmpP, true)
    fold(tmpRoot, segs)
    val (_, segRoot) = hfs(spark, s"$path/segments")
    graft.sources.Layout.swapDirs(fs, segRoot, tmpP,
      new Path(s"$path/__segments_old"), "index compact")
  }

  /** Drift trigger for a re-train decision: the share of `sub` rows
    * that arrived AFTER the base build (segments > 00000), from parquet
    * footer row counts only — no job. Counts raw segment rows
    * (tombstone masking ignored), which upper-bounds the live delta
    * share; when it crosses the caller's threshold (~0.3 is customary),
    * the frozen parameters (IVF centroids, PQ codebooks) were trained
    * on a minority of the corpus and a rebuild is due.
    */
  def deltaFraction(spark: SparkSession, path: String, sub: String): Double = {
    val segs = segmentDirs(spark, path)
    require(segs.nonEmpty, s"no segmented index at $path")
    val counts = segs.map { case (i, d) =>
      (i, graft.sources.ParquetMeta.rowCount(spark, s"$d/$sub")) }
    val total = counts.map(_._2).sum
    if (total == 0) 0.0
    else counts.filter(_._1 > 0).map(_._2).sum.toDouble / total
  }

  /** RETRACT ids from a segmented index: append a tombstone-only
    * segment (empty delta subtables, schemas cloned from the newest
    * segment) whose tombstones are `ids ∩ live` — the GDPR-style purge
    * path shared by the IVF/PQ/band/winnow/digest indexes. Retracting
    * an id that is not live is a no-op. O(|ids| + live-id semi-join);
    * no data segment is rewritten. `subs` lists the delta subtables of
    * this index (everything except `tombstones`).
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame,
              subs: Seq[String], idsKnownLive: Boolean = false): Unit = {
    val segs = segmentDirs(spark, path)
    require(segs.nonEmpty, s"no segmented index at $path")
    val n = segs.map(_._1).max + 1
    // `idsKnownLive` skips the live-intersection read when the caller
    // has ALREADY filtered its ids against the live view (e.g. a graph
    // retraction that read the live lists anyway to find affected
    // neighbors) — same invariant as mergeDeltaRows' flag: every id
    // must be live, or describe()'s live-count arithmetic breaks.
    // .distinct() on the fast path: the slow path's semi-join shape
    // yields one tombstone per id; a duplicate-carrying caller must
    // not inflate describe()'s live-count arithmetic
    val dead =
      if (idsKnownLive) ids.select(col(ids.columns.head).as("id")).distinct()
      else liveRows(spark, path, subs.head).select("id").distinct()
        .join(ids.select(col(ids.columns.head).as("id")), Seq("id"), "left_semi")
    commitSegment(spark, s"$path/segments", n) { tmp =>
      // empty-schema clones + the tombstone write are independent (§2.6)
      graft.core.Fan.overlap(
        subs.map { sub => () =>
          spark.read.parquet(s"${segs.last._2}/$sub").limit(0)
            .write.mode("overwrite").parquet(s"$tmp/$sub")
        } :+ (() => dead.write.mode("overwrite").parquet(s"$tmp/tombstones")))
    }
  }
}
