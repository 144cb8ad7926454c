package graft.functions

import org.apache.spark.sql.SparkSession

/** Cross-index snapshot manifest — the reproducible-training-run pin.
  *
  * A curation pipeline maintains SEVERAL segmented indexes at once
  * (digest/band/winnow dedup, BM25, IVF/PQ, perceptual hash); each
  * grows independently through its own delta merges. A run that wants
  * to be replayable months later needs all of them frozen at one
  * logical instant. Because every index is a [[SegmentedIndex]] tree of
  * immutable segments, that freeze is just a map of (label → index
  * path, newest committed segment): readers pass the pinned segment as
  * the `asOf` of [[SegmentedIndex.liveRows]] (or the typed accessors —
  * bm25TopKFromIndex, ivfCells, pqCodes, bandIndexLive,
  * winnowIndexLive, phashIndexRows) and replay each index bit for bit.
  * Zero data is copied; the manifest is a few hundred bytes regardless
  * of corpus size.
  *
  * Caveats, both inherent to segment pinning: a snapshot taken while a
  * writer is mid-commit pins either the old or the new segment (commits
  * are atomic renames — never a partial state), and COMPACTION of an
  * index collapses its history, invalidating older pins for that index
  * (the lakehouse vacuum trade; compact only past your retention
  * window).
  *
  * Format: one JSON object per line is avoided on purpose — the whole
  * manifest is a single flat JSON object {label: {"path": …,
  * "segment": n}}, human-diffable in a run log.
  */
object CorpusSnapshot {

  /** Capture the current (newest committed segment) pin of every listed
    * index into a manifest file at `manifestPath`, together with each
    * index's tree identity ([[SegmentedIndex.treeId]]) — segment
    * numbers restart at 0 after a rebuild or compaction, so the id is
    * what makes a stale pin DETECTABLE instead of silently reading the
    * wrong tree. Fails if any index has no committed segment — an
    * empty index cannot be pinned.
    */
  def write(spark: SparkSession, manifestPath: String,
            indexes: Map[String, String]): Unit = {
    require(indexes.nonEmpty, "nothing to snapshot")
    val pins = indexes.toSeq.sortBy(_._1).map { case (label, path) =>
      (label, path, SegmentedIndex.currentSegment(spark, path),
        SegmentedIndex.treeId(spark, path))
    }
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val json = pins.map { case (l, p, n, t) =>
      s"${q(l)}:{${q("path")}:${q(p)},${q("segment")}:$n,${q("tree")}:${q(t)}}"
    }.mkString("{", ",", "}")
    // overwrite = delete + rename (rename onto an existing FILE fails
    // on local/HDFS): a reader racing an overwrite of the SAME
    // manifest path can observe a brief not-found window — rare
    // because manifests are run logs, but callers that re-pin hot
    // paths should write run-versioned names instead of overwriting
    val (fs, dest) = SegmentedIndex.hfs(spark, manifestPath)
    val tmp = new org.apache.hadoop.fs.Path(manifestPath + ".__tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"snapshot commit failed: $manifestPath")
  }

  /** Read a manifest back as label → (index path, pinned segment,
    * tree id) — feed the segment into the `asOf` of the index's
    * reader, after [[verify]] has confirmed the pins still resolve.
    */
  def read(spark: SparkSession,
           manifestPath: String): Map[String, (String, Int, String)] = {
    val (fs, p) = SegmentedIndex.hfs(spark, manifestPath)
    require(fs.exists(p), s"no snapshot manifest at $manifestPath")
    val in = fs.open(p)
    val raw =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](8192)
        var n = in.read(b)
        while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
        buf.toString("UTF-8")
      } finally in.close()
    // minimal parser for the exact shape `write` emits (labels/paths
    // are JSON-escaped strings, segments bare ints) — no JSON library
    // dependency, and a malformed manifest fails loudly
    val entry = ("\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\\{\\s*\"path\"\\s*:" +
      "\\s*\"((?:[^\"\\\\]|\\\\.)*)\"\\s*,\\s*\"segment\"\\s*:\\s*(\\d+)\\s*,\\s*" +
      "\"tree\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"\\s*\\}").r
    def unesc(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case e => sb.append(e); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    val pins = entry.findAllMatchIn(raw).map { m =>
      unesc(m.group(1)) -> ((unesc(m.group(2)), m.group(3).toInt,
        unesc(m.group(4))))
    }.toMap
    // regex extraction silently SKIPS malformed entries, so a
    // truncated/corrupted manifest could otherwise verify with pins
    // missing: cross-check the entry count against the raw text (the
    // writer's escaping guarantees a label/path cannot fake the
    // `{"path":` opener)
    val opener = java.util.regex.Pattern.quote("{\"path\":")
    val expected = s"$opener".r.findAllIn(raw).size
    require(pins.nonEmpty && pins.size == expected,
      s"malformed snapshot manifest at $manifestPath: parsed " +
        s"${pins.size} of $expected entries")
    pins
  }

  /** Live pins onto `indexPath`'s CURRENT segments tree recorded under
    * `manifestSource` — a single manifest file or a directory of them
    * (a run-log folder): (manifest file, label, pinned segment). Pins
    * whose recorded tree id no longer matches are already stale (their
    * history is gone; [[verify]] rejects them) and are not returned.
    * This is the retention input for compaction guards: a live pin
    * means compacting `indexPath` would orphan a replayable snapshot.
    * A missing source, an unreadable index tree marker, or zero
    * matches all yield empty — "no pins" must not block maintenance of
    * an index nobody snapshotted. A MALFORMED manifest under the
    * source throws (via [[read]]'s count cross-check): a truncated
    * manifest may hold a real pin, so it must never silently read as
    * "no pins" — compaction then refuses loudly.
    */
  def pinsOn(spark: SparkSession, indexPath: String,
             manifestSource: String): Seq[(String, String, Int)] = {
    val (fs, src) = SegmentedIndex.hfs(spark, manifestSource)
    if (!fs.exists(src)) return Seq.empty
    val files =
      if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src).toSeq.filter(_.isFile).map(_.getPath)
          // a crashed write's orphan tmp is not a committed manifest
          .filterNot(_.getName.endsWith(".__tmp"))
      else Seq(src)
    val tree =
      try Some(SegmentedIndex.treeId(spark, indexPath))
      catch { case _: IllegalArgumentException => None }
    val target = fs.makeQualified(new org.apache.hadoop.fs.Path(indexPath))
    tree match {
      case None => Seq.empty
      case Some(t) =>
        files.flatMap { f =>
          read(spark, f.toString).toSeq.collect {
            case (label, (p, seg, pt))
                if pt == t &&
                  fs.makeQualified(new org.apache.hadoop.fs.Path(p)) == target =>
              (f.toString, label, seg)
          }
        }
    }
  }

  /** PRESERVE a snapshot before compacting: clone every pinned index's
    * tree as of its pin ([[SegmentedIndex.cloneAt]] — immutable-file
    * copies, zero Spark jobs) under `destRoot/<label>`, and write a new
    * manifest at `destRoot/manifest.json` whose paths point at the
    * clones. The original manifest is untouched; retire it once the
    * preserved one is adopted, and the compaction retention guard
    * ([[SegmentedIndex.requireNotPinned]]) clears. The constructive
    * answer to "compaction would orphan this pin" — pay the pinned
    * bytes, keep both the history and the fold.
    */
  def preserve(spark: SparkSession, manifestPath: String,
               destRoot: String): String = {
    val pins = verify(spark, manifestPath) // stale pins must not clone
    pins.foreach { case (label, (path, seg)) =>
      require(!label.contains("/") && !label.contains("..") &&
        label.nonEmpty, s"label '$label' is not a safe directory name")
      SegmentedIndex.cloneAt(spark, path, s"$destRoot/$label", seg)
    }
    val newManifest = s"$destRoot/manifest.json"
    write(spark, newManifest,
      pins.map { case (label, _) => label -> s"$destRoot/$label" })
    newManifest
  }

  /** Read AND validate: every pinned index must still carry the tree
    * identity recorded at snapshot time — a rebuild or compaction since
    * then restarts segment numbering, so replaying such a pin would
    * silently read the WRONG rows. Throws naming the first stale index;
    * on success the returned pins are safe to feed into `asOf` readers.
    */
  def verify(spark: SparkSession,
             manifestPath: String): Map[String, (String, Int)] = {
    val pins = read(spark, manifestPath)
    pins.foreach { case (label, (path, seg, tree)) =>
      val now = SegmentedIndex.treeId(spark, path)
      if (now != tree)
        throw new IllegalStateException(
          s"snapshot pin '$label' is stale: index tree at $path was " +
            "rebuilt or compacted since the snapshot (tree id " +
            s"$tree -> $now) — the pinned history no longer exists")
      val cur = SegmentedIndex.currentSegment(spark, path)
      if (seg > cur)
        throw new IllegalStateException(
          s"snapshot pin '$label' references segment $seg but $path " +
            s"only has segments up to $cur")
    }
    pins.map { case (l, (p, n, _)) => l -> ((p, n)) }
  }
}
