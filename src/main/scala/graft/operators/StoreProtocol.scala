package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem protocol for the persisted stores (the postings
  * index in [[Search]] and the IVF index in [[Similarity]]): staged
  * batch appends that are CRASH-RETRY-SAFE.
  *
  * The problem both appends share: a bare parquet `Append` re-run
  * after a crash duplicates the delta's rows (double tf/df in the
  * postings → silently wrong BM25; double vectors in the IVF cells),
  * and nothing detects the half-applied state. The protocol here is
  * the classic staged-commit:
  *
  *   1. the delta lands under `_staging/<batchId>/` (underscore
  *      prefix → invisible to every parquet read of the store);
  *   2. its data files are RENAMED into the live relation dirs with a
  *      `b<batchId>-` name prefix (renames, never copies — and the
  *      prefix makes every moved file attributable to its batch);
  *   3. a `_commits/<batchId>` marker seals the batch;
  *   4. the staging dir is dropped.
  *
  * Idempotence: a re-run of a COMMITTED batch sees the marker and
  * no-ops (exactly-once for Structured Streaming's stable batch ids).
  * A re-run after a crash finds the staging dir WITHOUT a marker,
  * deletes every live file carrying that batch's prefix (undoing the
  * half-applied move), restores any derived state (the postings store
  * recomputes its stats row — a pure function of the data), and
  * re-applies the batch from scratch. Batch ids therefore must not
  * contain `-` (the prefix terminator) or path separators —
  * [[requireBatchId]] pins the alphabet.
  *
  * All paths go through the filesystem OWNING the store path — never
  * the default FS (the Compact.scala / FilePattern.scala rule: a
  * store on s3a:// or hdfs:// with a file:// default would otherwise
  * run the protocol against the wrong filesystem). Note the rename
  * caveat: on object stores without atomic rename (raw S3), renames
  * are copies — run maintenance against an HDFS-compatible FS or an
  * S3 committer layer, as with every rename-based Spark committer.
  */
private[graft] object StoreProtocol {

  def fsOf(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `-` terminates the file prefix (`b<batchId>-`), so a batch id
    * containing it could alias another batch's files; bare `.`/`..`
    * are path components — `_staging/..` resolves to the STORE ROOT,
    * and the replay branch's staging cleanup would recursively delete
    * the whole store; a LEADING `.`/`_` would make the marker
    * invisible to (or collide with the `.crc` sidecars of) the
    * pruning filter below. */
  def requireBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z0-9][A-Za-z0-9._]*"),
      s"batch id must match [A-Za-z0-9][A-Za-z0-9._]* (got '$batchId')")

  /** Retention slack: markers within this window of the newest are
    * kept, so filesystem mtime granularity, small clock steps, and
    * rapid batches can never prune the genuinely-redeliverable batch's
    * marker (whose loss would turn its redelivery into a silent
    * double-apply — the exact failure markers exist to prevent). */
  val markerRetentionMs: Long = 60L * 60 * 1000

  /** Drop every commit marker older than the newest by more than
    * [[markerRetentionMs]] — called from maintenance entries
    * (append / delete / compact) so the marker set stays bounded over
    * months of streaming (one marker per micro-batch otherwise
    * accumulates forever and every listing / content summary pays for
    * it). Only batches not yet folded into the stream checkpoint can
    * be redelivered — the newest, by the per-batch-checkpoint
    * contract — and everything within the slack of it survives.
    * Every marker's evidence is FOLDED into the durable `_applied`
    * ledger before anything is pruned (see [[foldMarkersIntoLedger]]):
    * replay protection for batch ids older than the slack therefore
    * survives both the pruning and any later compaction that rewrites
    * the prefixed live files — a re-used old id fails loudly at the
    * [[wasApplied]] entry guard, never silently applies twice. */
  def pruneCommitMarkers(fs: FileSystem, path: String): Unit = {
    foldMarkersIntoLedger(fs, path)
    val markers = listMarkers(fs, path)
    if (markers.length > 1) {
      val newest = markers.map(_.getModificationTime).max
      markers.filter(_.getModificationTime < newest - markerRetentionMs)
        .foreach(m => fs.delete(m.getPath, false))
    }
  }

  /** Only real markers: a ChecksumFileSystem writes .<name>.crc
    * sidecars whose mtimes must neither count as "newest" nor be
    * deleted out from under their marker (fs.delete of the marker
    * drops its crc itself); [[requireBatchId]] pins the first char
    * alphanumeric, so the filter cannot hide a real batch. */
  private def listMarkers(fs: FileSystem, path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(s"$path/_commits")
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
  }

  // ---------------------------------------------------------------
  // The `_applied` ledger: durable replay protection that outlives
  // marker pruning AND compaction. Markers are pruned by retention
  // slack, and maintenance rewrites (postings compact, IVF cell
  // rewrites) fold the `b<batchId>-` prefixed files into unprefixed
  // ones — after both, a redelivered old batch (e.g. a reset stream
  // checkpoint restarting at id 0) used to find neither marker nor
  // prefixed files and silently applied TWICE. The ledger is a tiny
  // root-level file persisting what the markers proved before they
  // were pruned: the HIGH-WATER numeric batch id (streaming ids are
  // monotone longs — one integer covers the unbounded stream) plus
  // the set of non-numeric ids (manual one-off appends — bounded by
  // human usage). Written ONLY from live markers, always BEFORE any
  // pruning, via a preserve-aside swap — so no crash point can lose
  // evidence that markers no longer hold.
  //
  // Contract this pins: numeric batch ids form a monotone sequence
  // (Structured Streaming's guarantee); an out-of-order numeric id is
  // indistinguishable from reuse and is rejected loudly.
  // ---------------------------------------------------------------

  private def ledgerPath(path: String) = new Path(s"$path/_applied")
  private def ledgerOldPath(path: String) = new Path(s"$path/_applied__old")
  private def ledgerTmpPath(path: String) = new Path(s"$path/_applied__tmp")

  /** A batch id parsed as the streaming sequence number it is, when it
    * is one (all digits, fits a long); longer/mixed ids are tracked by
    * name in the ledger's set half. */
  private def numericId(batchId: String): Option[Long] =
    if (batchId.nonEmpty && batchId.length <= 18 && batchId.forall(_.isDigit))
      Some(batchId.toLong)
    else None

  /** Pre-r14 stream twins prefixed batch ids as `stream<N>`; stores
    * written under that format hold markers/ledger entries by that
    * name. Treat them as the numeric sequence ids they were, so the
    * high-water mark covers them after upgrade — otherwise a
    * redelivered in-flight batch N (now passed as plain "N") would
    * find no marker "N", no "bN-" files, and no ledger coverage, and
    * silently apply twice. The `stream<digits>` name space is
    * therefore reserved alongside the all-digit space. */
  private def legacyNumericId(batchId: String): Option[Long] =
    if (batchId.startsWith("stream")) numericId(batchId.stripPrefix("stream")) else None

  /** Numeric (current) or legacy-stream-format sequence number. */
  private def sequenceId(batchId: String): Option[Long] =
    numericId(batchId).orElse(legacyNumericId(batchId))

  /** All-digit ids (and the legacy `stream<N>` spelling) are the
    * stream twins' monotone sequence — [[wasApplied]] compares them
    * against a single high-water mark, so ONE manual append with a
    * large numeric id (say "900") would permanently wedge a live
    * stream whose intact checkpoint is about to deliver batch 3.
    * Manual append entry points call this to keep the numeric space
    * reserved; callers driving the protocol the way a stream does
    * (monotone ids from a checkpoint) opt out via their
    * `streamBatch` parameter. */
  def requireManualBatchId(batchId: String): Unit =
    require(sequenceId(batchId).isEmpty,
      s"batch id '$batchId' is in the numeric id space reserved for stream batches " +
        "(the ledger's high-water rule would wedge a live stream's next batch); " +
        "use a named id like 'crawlA', or pass streamBatch = true when deliberately " +
        "driving the protocol with a stream's monotone sequence")

  /** (high-water numeric id, non-numeric applied ids) — (-1, empty)
    * when no ledger exists. Falls back to the preserved `__old` copy
    * of a torn swap (markers are only pruned AFTER a completed fold,
    * so the stale copy plus the still-live markers covers every id).
    * A ledger file that EXISTS but cannot be parsed throws — the
    * protocol's swap writes make a half-written live ledger
    * impossible, so unparseable means external corruption, and
    * silently reading it as "no history" would drop replay protection
    * (the requireSameReplay truncated-marker rule). */
  private[graft] def readLedger(fs: FileSystem, path: String): (Long, Set[String]) = {
    def readAt(p: Path): Option[(Long, Set[String])] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        val lines = txt.split("\n").filter(_.nonEmpty)
        val parsed = scala.util.Try((lines.head.toLong, lines.tail.toSet))
        if (parsed.isFailure)
          throw new java.io.IOException(s"applied-batch ledger $p is corrupt — cannot " +
            "read replay history; restore it (or rebuild the store) before appending")
        parsed.toOption
      }
    readAt(ledgerPath(path)).orElse(readAt(ledgerOldPath(path))).getOrElse((-1L, Set.empty[String]))
  }

  /** Persist every live marker's batch id into the ledger (idempotent;
    * skips the write when nothing is new). Runs at the top of
    * [[pruneCommitMarkers]] — the invariant is "no marker is ever
    * pruned whose id the ledger does not hold". The write is a
    * preserve-aside swap (tmp → aside live → rename in → drop old),
    * self-repairing any torn prior swap first, so a crash at any point
    * leaves a readable ledger whose union with the (unpruned) markers
    * still covers every applied id. */
  def foldMarkersIntoLedger(fs: FileSystem, path: String): Unit = {
    val names = listMarkers(fs, path).map(_.getPath.getName)
    // repair a torn prior swap before reading (live missing + old
    // present -> restore; both present -> completed swap's leftover)
    val live = ledgerPath(path); val old = ledgerOldPath(path)
    if (fs.exists(old)) {
      if (!fs.exists(live)) { fs.rename(old, live); () }
      else { fs.delete(old, false); () }
    }
    fs.delete(ledgerTmpPath(path), false)
    if (names.isEmpty && !fs.exists(live)) return
    val (hw, ids) = readLedger(fs, path)
    // fold legacy `stream<N>` evidence (marker names AND by-name set
    // entries written by a pre-upgrade ledger) into the high-water
    // mark, migrating the set entries out — see legacyNumericId
    val newHw = (Seq(hw) ++ names.toSeq.flatMap(sequenceId) ++
      ids.toSeq.flatMap(legacyNumericId)).max
    val newIds = (ids ++ names.filter(n => sequenceId(n).isEmpty))
      .filter(n => legacyNumericId(n).isEmpty)
    if (newHw == hw && newIds == ids && fs.exists(live)) return
    if (newHw == -1L && newIds.isEmpty) return
    val out = fs.create(ledgerTmpPath(path), true)
    try out.write((newHw.toString +: newIds.toSeq.sorted).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"ledger: rename $live -> $old failed")
    if (!fs.rename(ledgerTmpPath(path), live))
      throw new java.io.IOException(s"ledger: rename ${ledgerTmpPath(path)} -> $live failed")
    fs.delete(old, false)
    ()
  }

  /** True when the ledger proves `batchId` was committed before — the
    * append-entry guard that stays loud AFTER marker pruning and
    * compaction (the live-marker replay no-op runs first, so this only
    * ever sees ids whose marker is gone). Numeric ids compare against
    * the high-water mark (monotone-sequence contract); others against
    * the recorded set. */
  def wasApplied(fs: FileSystem, path: String, batchId: String): Boolean = {
    val (hw, ids) = readLedger(fs, path)
    sequenceId(batchId).exists(_ <= hw) || ids.contains(batchId)
  }

  /** Drop the ledger (with its swap debris) — a REBUILD defines a
    * fresh store: replay protection resets with the rest of the
    * maintenance state (`_commits`, `_staging`), deliberately, so a
    * rebuilt store accepts a restarted stream's batch 0. */
  def clearLedger(fs: FileSystem, path: String): Unit =
    Seq(ledgerPath(path), ledgerOldPath(path), ledgerTmpPath(path))
      .foreach(p => fs.delete(p, false))

  def stagingDir(path: String, batchId: String): Path =
    new Path(s"$path/_staging/$batchId")

  def commitMarker(path: String, batchId: String): Path =
    new Path(s"$path/_commits/$batchId")

  def isCommitted(fs: FileSystem, path: String, batchId: String): Boolean =
    fs.exists(commitMarker(path, batchId))

  /** Seal a batch. The marker RECORDS the batch's content fingerprint
    * (row count + order-free hash-sum — see [[contentFingerprint]]) so
    * a later redelivery under the same id can be verified, not just
    * assumed: a reset checkpoint re-batches the source, and its new
    * "batch 0" may hold MORE data than the one the marker sealed —
    * a bare existence check would silently no-op it (data loss). */
  def markCommitted(fs: FileSystem, path: String, batchId: String,
                    fingerprint: Option[(Long, Long, Long)] = None): Unit = {
    fs.mkdirs(new Path(s"$path/_commits"))
    // write-then-rename: a crash mid-write of the fingerprint would
    // otherwise leave either a TRUNCATED marker (every retry then
    // throws 'corrupt' forever — the store wedges despite a correctly
    // applied batch, breaking retry-converges) or an EMPTY one (the
    // replay is accepted with NO content verification — reopening the
    // reset-checkpoint loss hole). Rename is the protocol's atomic
    // primitive; the `_tmp-` name is invisible to listMarkers (leading
    // underscore) and a crashed leftover is overwritten on retry.
    val tmp = new Path(s"$path/_commits/_tmp-$batchId")
    val out = fs.create(tmp, true)
    try fingerprint.foreach { case (n, lo, hi) =>
      out.write(s"$n\n$lo\n$hi".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    val dst = commitMarker(path, batchId)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"commit: rename $tmp -> $dst failed")
  }

  /** Order-free content fingerprint of a delta batch: (row count,
    * Σ low-32-bits, Σ high-32-bits of per-row xxhash64 over every
    * hashable column). Two 32-bit lanes keep each sum under 2^63 for
    * any batch below 2^31 rows — exact under ANSI arithmetic, no
    * wraparound needed (the corpus_manifest lane recipe). Partition-
    * and order-independent, so the recomputation on a redelivered
    * batch cannot depend on shuffle layout. One O(batch) map-side
    * aggregate — paid once per append and once per replay. Contract:
    * the delta is a DETERMINISTIC relation (the streaming-source
    * guarantee within one checkpoint lineage) — a delta carrying a
    * non-deterministic column (current_timestamp, rand) would refuse
    * its own legitimate replay; fail-loud, never silent. */
  def contentFingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, shiftrightunsigned, sum, xxhash64}
    val cols = df.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name)).toSeq
    // a delta whose every column is map-typed (unhashable) degrades to
    // a count-only fingerprint rather than a zero-arg analysis error
    val h = if (cols.isEmpty) xxhash64(lit(0L)) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)).cast("long"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Verify a committed replay redelivers the SAME content the marker
    * sealed — throws loudly on a mismatch (the reset-checkpoint
    * re-batching case) instead of letting the no-op branch drop the
    * extra rows. Markers without a recorded fingerprint (none are
    * written by this code; a hand-made marker) are accepted on the
    * bare stable-batch-id contract. */
  private def corruptMarker(batchId: String, nLines: Int) =
    new java.io.IOException(s"append: commit marker for batch id '$batchId' is " +
      s"corrupt ($nLines lines) — cannot verify the replay's content; " +
      "rebuild the store or restart batch ids past the old range")

  def requireSameReplay(fs: FileSystem, path: String, batchId: String,
                        fingerprint: (Long, Long, Long)): Unit = {
    val p = commitMarker(path, batchId)
    val in = fs.open(p)
    val txt = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val lines = txt.split("\n").filter(_.nonEmpty)
    // 0 lines = a hand-made marker (accepted on the bare stable-id
    // contract); anything other than a PARSEABLE 3-line record is a
    // corrupt marker (crash-truncated writes are ruled out by
    // markCommitted's write-then-rename, so this is external damage)
    // — refuse rather than silently downgrade the content check
    val sealed3 =
      if (lines.length == 0) None
      else if (lines.length != 3) throw corruptMarker(batchId, lines.length)
      else Some(scala.util.Try((lines(0).toLong, lines(1).toLong, lines(2).toLong))
        .getOrElse(throw corruptMarker(batchId, lines.length)))
    sealed3.filter(_ != fingerprint).foreach { s =>
      throw new java.io.IOException(s"append: batch id '$batchId' was redelivered with " +
        s"DIFFERENT content than its commit recorded (got $fingerprint, sealed $s) — " +
        "the stream checkpoint was reset and re-batched the source; rebuild the store " +
        "or restart batch ids past the old range")
    }
  }

  /** Staged batches, committed or not — the repair worklist. */
  def stagedBatches(fs: FileSystem, path: String): Seq[String] = {
    val root = new Path(s"$path/_staging")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Read the LIVE `<partCol>=v` partition dirs of a store relation
    * with basePath (the partition column is kept; the schema resolves
    * on the driver) — None when there is none. The health-probe
    * discipline: a pending `_old<partCol>=v` swap dir must not fail
    * the maintenance read it exists to be surfaced by. `only`
    * restricts the read to those values: one listing of the root's
    * entry names, then only the chosen dirs are listed — never the
    * files of the other partitions. With `only`, a pending swap of a
    * requested partition yields None too, so [[probedRead]] falls back
    * to the root read, which fails loudly as it always did. */
  def livePartitionRead(spark: org.apache.spark.sql.SparkSession, rel: String,
                        partCol: String = "__cell",
                        only: Option[Seq[Int]] = None): Option[org.apache.spark.sql.DataFrame] = {
    val fs = fsOf(spark, rel)
    val base = new Path(rel)
    if (!fs.exists(base)) return None
    val names = fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
    val dirs = only match {
      case None => names.filter(_.startsWith(s"$partCol=")).sorted.toSeq
      case Some(vs) =>
        if (vs.exists(v => names.contains(s"_old$partCol=$v"))) Nil
        else vs.distinct.sorted.map(v => s"$partCol=$v").filter(names.contains)
    }
    if (dirs.isEmpty) None
    else Some(org.apache.spark.sql.graftbridge.ParquetSchemas.reader(spark, s"$rel/${dirs.head}")
      .option("basePath", rel).parquet(dirs.map(d => s"$rel/$d"): _*))
  }

  /** The query-path read of a partitioned store relation: only the
    * probed partitions' dirs are listed and read, under the same
    * static partition filter as a root read. When none of them exists,
    * or one has a pending swap, it is the plain root read (the same
    * empty result, the same loud errors). */
  def probedRead(spark: org.apache.spark.sql.SparkSession, rel: String, partCol: String,
                 values: Seq[Int]): org.apache.spark.sql.DataFrame =
    livePartitionRead(spark, rel, partCol, Some(values))
      .getOrElse(org.apache.spark.sql.graftbridge.ParquetSchemas.read(spark, rel))
      .filter(org.apache.spark.sql.functions.col(partCol).isin(values.map(Int.box): _*))

  /** Rename every data file under `staging` into `live`, mirroring
    * partition subdirectories (`name=value`) and prefixing each file
    * with `b<batchId>-`. Metadata files (`_SUCCESS`, dot-files) are
    * skipped. Rename failures throw — a silent skip would lose rows. */
  def moveStagedFiles(fs: FileSystem, staging: Path, live: Path, batchId: String): Unit = {
    if (!fs.exists(staging)) return
    fs.mkdirs(live)
    fs.listStatus(staging).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.contains("="))
        moveStagedFiles(fs, s.getPath, new Path(live, n), batchId)
      else if (s.isFile && !n.startsWith("_") && !n.startsWith(".")) {
        val dst = new Path(live, s"b$batchId-$n")
        // unreachable in the protocol (staged part names carry a fresh
        // write-job UUID, and a retry's repair deletes the batch's
        // prefixed files before the steps re-run) — defensive only
        if (fs.exists(dst))
          throw new java.io.IOException(s"append: $dst already exists")
        if (!fs.rename(s.getPath, dst))
          throw new java.io.IOException(s"append: rename ${s.getPath} -> $dst failed")
      }
    }
  }

  /** True when any live file under `dir` carries `batchId`'s prefix.
    * Used at append entry AFTER the marker check and the repair of
    * uncommitted batches: surviving prefixed files can then only
    * belong to a COMMITTED batch whose marker aged out of retention —
    * a re-used batch id (e.g. a reset stream checkpoint restarting at
    * batch 0). Staged part names carry fresh write-job UUIDs, so
    * without this guard the re-use would silently APPLY AGAIN
    * (duplicate rows) rather than collide. Fail loudly; recover by
    * rebuilding the store or restarting ids past the old range. */
  def hasBatchFiles(fs: FileSystem, dir: Path, batchId: String): Boolean = {
    if (!fs.exists(dir)) return false
    val prefix = s"b$batchId-"
    fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && n.contains("=") && hasBatchFiles(fs, s.getPath, batchId)) ||
        (s.isFile && n.startsWith(prefix))
    }
  }

  /** Delete every live file carrying `batchId`'s prefix under `dir`
    * (recursing through partition subdirectories). Returns true when
    * anything was deleted — the signal that the crashed batch had
    * progressed past staging and derived state must be recomputed. */
  def deleteBatchFiles(fs: FileSystem, dir: Path, batchId: String): Boolean = {
    if (!fs.exists(dir)) return false
    val prefix = s"b$batchId-"
    var touched = false
    fs.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.contains("="))
        touched = deleteBatchFiles(fs, s.getPath, batchId) || touched
      else if (s.isFile && n.startsWith(prefix)) {
        fs.delete(s.getPath, true)
        touched = true
      }
    }
    touched
  }
}
