package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.graft.BucketedFiles
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.control.NonFatal

/** Versioned table with transactional visibility — the Spark/lakehouse
  * answer to the reference's transaction manager
  * (andb/storage/xact/, demonstrated by
  * tests/unit/test_execution.py:64 `test_abort_transaction`): a
  * half-done write is NEVER visible to readers, an aborted write leaves
  * the readable state bit-for-bit unchanged, and a committed write
  * becomes visible atomically.
  *
  * The reference gets these properties from a WAL + xid visibility
  * checks on heap pages; on immutable columnar storage the public
  * lakehouse pattern (the Delta-log / Iceberg-snapshot protocol) gets
  * the same guarantees with no page-level machinery:
  *
  *   - every writer stages its files under a PRIVATE directory that no
  *     manifest references — readers cannot observe it, so "uncommitted
  *     rows are invisible" holds by construction, not by filtering;
  *   - a commit is ONE atomic filesystem operation: renaming the
  *     fully-written next numbered manifest into place. Before it, the
  *     table is the old version; after it, the new — there is no
  *     intermediate state to observe (not even a torn manifest), which
  *     is the abort test's core assertion;
  *   - abort simply never creates that manifest (staged files become
  *     unreferenced garbage for [[vacuum]]) — nothing to roll back
  *     because nothing was published, the O(1) analog of the
  *     reference's WAL undo;
  *   - concurrent committers race on publishing the SAME manifest
  *     number (temp-file write + no-overwrite rename): exactly one
  *     wins, the loser gets a conflict error and retries on the new
  *     base — optimistic concurrency, serialized by the filesystem
  *     rename primitive (atomic on HDFS-class stores);
  *   - old manifests are never deleted by commits, so every historical
  *     version stays readable ([[readAsOf]] — time travel), and
  *     "SELECT after abort" trivially reads the unchanged current
  *     version.
  *
  * A manifest is a text file listing the data directories composing
  * that version (append = base dirs + staged dir; replace = staged dir
  * only). Lines starting with `#` are commit metadata, not layout:
  * `#delta=<base>` (below), `#txn=<appId>/<batchId>` (the streaming
  * ledger), `#schema=<json>`, the schema of the rows [[stage]]
  * wrote, as `StructType.json` on one line (partition columns last, the
  * order partition discovery gives them), `#partitionCols=<a,b>`
  * when the stage was hive-partitioned, and
  * `#buckets=<n>;<bucket cols>;<sort cols>` when the table is bucketed.
  * A reader of that version plans with the recorded schema, so it runs
  * no footer-inference job; a manifest without the line (written before
  * it existed, or by a commit that staged in another process) reads
  * through inference as before. The bucket spec is chosen once, when
  * [[create]] first writes the table; every later stage of the table
  * (appends, [[optimize]]'s restage, an update's replace) takes it from
  * its base version's manifest, so no commit can change it. A bucketed
  * version reads as one relation over all of its directories that
  * carries the spec: a join on the bucket key plans no exchange on that
  * side, with no catalog entry. Manifests of unbucketed tables carry no
  * such line. Layout under `path/`:
  * {{{
  *   _versions/00000000000000000001.manifest   -- one per committed version
  *   data/txn-<uuid>/part-*.parquet            -- one dir per writer
  * }}}
  * At 100 TB this scales exactly as the production systems do: a commit
  * moves O(1) DATA regardless of table size, readers plan from a file
  * list (no directory race with concurrent writers), and N
  * streaming/batch writers append lock-free until the single-file
  * commit point.
  *
  * Metadata growth envelope — checkpointed delta manifests (the
  * Delta-log/Iceberg-snapshot mitigation, native here): an APPEND
  * commit writes a DELTA manifest — a `#delta=<base>` line plus only
  * the added directory, O(1) lines regardless of history — while every
  * [[CheckpointEvery]]-th version (and every replace commit, whose
  * layout resets anyway) writes a FULL self-contained manifest.
  * Resolution of any version walks its delta chain back to the nearest
  * full manifest: ≤ CheckpointEvery file reads — the object-store cost
  * model's currency, where per-file latency dominates and the one full
  * manifest is a single sequential read. The commit protocol (stage →
  * one atomic rename), conflicts, abort, time travel and CDC are all
  * unchanged by the encoding; [[optimize]] still folds the dir list
  * itself back to O(1).
  */
object Versioned {

  /** An open transaction: staged data lives in [[stagingDir]]; nothing
    * under it is visible to any reader until [[commitAppend]]/
    * [[commitReplace]] publishes a manifest naming it. `base` is the
    * version the transaction SAW at begin — commits target base+1, so a
    * commit that raced a concurrent writer conflicts instead of
    * silently publishing on top of state it never read (first-committer
    * wins; the loser [[rebase]]s and retries). */
  final case class Txn(path: String, id: String, base: Long) {
    def stagingDir: String = s"$path/data/txn-$id"
    /** What [[stage]] wrote, recorded by the commit: its `#schema=` and
      * `#partitionCols=` lines. */
    @volatile private[sources] var stagedMeta: Seq[String] = Nil
  }

  final class ConflictException(msg: String) extends RuntimeException(msg)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(s"$path/_versions")

  private def manifestPath(path: String, v: Long) =
    new Path(manifestDir(path), f"$v%020d.manifest")

  private val ManifestRe = "([0-9]{20})\\.manifest".r

  /** Committed versions, ascending. Planning cost is O(commits) listing
    * of one metadata directory — independent of data size. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(st => ManifestRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
      .sorted
  }

  def currentVersion(spark: SparkSession, path: String): Long =
    versions(spark, path).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))

  private def readManifestLines(spark: SparkSession, path: String, v: Long): Seq[String] = {
    val in = fs(spark, path).open(manifestPath(path, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
    finally in.close()
  }

  /** Every CheckpointEvery-th append commit writes a full manifest
    * instead of a delta, bounding any version's resolution chain. 16
    * balances append cost (15/16 of commits write 2 lines) against
    * worst-case resolution (16 metadata-file reads). */
  val CheckpointEvery: Long = 16L

  private val DeltaRe = "#delta=([0-9]+)".r
  private val SchemaPrefix = "#schema="
  private val PartitionColsPrefix = "#partitionCols="
  private val BucketsPrefix = "#buckets="

  /** Data directories of version `v` ("#"-prefixed lines are commit
    * metadata — e.g. the streaming batch tag or the delta base pointer —
    * not layout). A delta manifest resolves against its base, walking at
    * most [[CheckpointEvery]] files before hitting a full manifest. */
  private def readManifest(spark: SparkSession, path: String, v: Long): Seq[String] =
    resolveDirs(spark, path, readManifestLines(spark, path, v))

  private def resolveDirs(spark: SparkSession, path: String, lines: Seq[String]): Seq[String] = {
    val dirs = lines.filterNot(_.startsWith("#"))
    lines.collectFirst { case DeltaRe(b) => b.toLong } match {
      case Some(base) => readManifest(spark, path, base) ++ dirs
      case None => dirs
    }
  }

  private def metaValue(lines: Seq[String], prefix: String): Option[String] =
    lines.collectFirst { case l if l.startsWith(prefix) => l.stripPrefix(prefix) }

  private def partitionColsOf(lines: Seq[String]): Seq[String] =
    metaValue(lines, PartitionColsPrefix).toSeq.flatMap(_.split(','))

  private def bucketLine(spec: BucketSpec): String =
    BucketsPrefix + Seq(spec.numBuckets.toString, spec.bucketColumnNames.mkString(","),
      spec.sortColumnNames.mkString(",")).mkString(";")

  private def bucketsOf(lines: Seq[String]): Option[BucketSpec] =
    metaValue(lines, BucketsPrefix).map { v =>
      val Array(n, keys, sorts) = v.split(";", -1)
      def cols(s: String) = s.split(',').toSeq.filter(_.nonEmpty)
      BucketSpec(n.toInt, cols(keys), cols(sorts))
    }

  /** Read `dirs` (relative to `path`) as one version whose manifest
    * lines are `lines`: with the schema the manifest records, or
    * inferring from footers when it has none. Each directory of a
    * hive-partitioned version is its own partition root, which Spark's
    * multi-root partition discovery refuses, so those directories are
    * read one by one and unioned; filters still push into every child
    * scan, so partition pruning survives the union. A bucketed version
    * reads as one bucketed relation over all of its directories. */
  private def load(spark: SparkSession, path: String, lines: Seq[String],
      dirs: Seq[String]): DataFrame = {
    val schema = metaValue(lines, SchemaPrefix)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val abs = dirs.map(d => s"$path/$d")
    bucketsOf(lines) match {
      case Some(spec) =>
        BucketedFiles.read(spark, abs, schema.getOrElse(throw new IllegalStateException(
          s"bucketed manifest at $path records no schema")), spec)
      case None =>
        val reader = schema.fold(spark.read)(spark.read.schema)
        if (partitionColsOf(lines).isEmpty) reader.parquet(abs: _*)
        else abs.map(reader.parquet(_)).reduce(_ unionByName _)
    }
  }

  /** Publish an APPEND commit's manifest: a 2-line delta against `base`
    * normally, a full self-contained snapshot on checkpoint versions
    * (and for the version-1 create, which has no base to delta from).
    * Same single-rename commit point either way. */
  private def writeAppendManifest(spark: SparkSession, path: String, base: Long,
      addedDir: String, meta: Seq[String] = Nil): Long = {
    val next = base + 1
    if (base >= 1 && next % CheckpointEvery != 0)
      writeManifest(spark, path, next, Seq(addedDir), meta :+ s"#delta=$base")
    else {
      val baseDirs = if (base == 0) Nil else readManifest(spark, path, base)
      writeManifest(spark, path, next, baseDirs :+ addedDir, meta)
    }
    next
  }

  /** Publish version `v` listing `dirs` — the commit point. The
    * content is written to a PRIVATE temp file first and RENAMED into
    * place, so the manifest becomes visible all-or-nothing: a reader
    * (or a crash) can never observe a torn/empty manifest as the
    * current version. Put-if-absent serializes racing committers:
    * FileContext.rename without the OVERWRITE option refuses an
    * existing destination atomically on HDFS-class filesystems; on the
    * LOCAL FS that refusal is only check-then-rename, so the commit
    * point there is a POSIX hard link instead (link(2) fails EEXIST
    * atomically — see inline). Only a lost race maps to
    * [[ConflictException]]; any other I/O failure propagates as
    * itself, because treating "disk full" as "lost a race" would send
    * retry loops spinning forever. */
  /** Tables whose _versions dir refused link(2) — the commit point
    * falls back to the no-overwrite rename there (a permanent property
    * of the underlying mount, so one memo per manifest dir). */
  private val linkUnsupportedFs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The HDFS-class commit point: no-overwrite rename (atomic there). */
  private def renameCommit(spark: SparkSession, tmp: Path, target: Path): Unit = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, target) // no Rename.OVERWRITE -> refuses existing dst
  }

  private def writeManifest(spark: SparkSession, path: String, v: Long,
      dirs: Seq[String], meta: Seq[String] = Nil): Unit = {
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    val target = manifestPath(path, v)
    if (f.exists(target))
      throw new ConflictException(s"version $v at $path already committed")
    val tmp = new Path(manifestDir(path),
      s".tmp-${java.util.UUID.randomUUID()}")
    // The tmp file must not outlive this call unless the rename won:
    // vacuum sweeps only data/ and versions() ignores tmp names, so a
    // leaked tmp (failed create/write, or a rename that threw anything
    // at all) would accumulate in _versions/ forever.
    var renamed = false
    try {
      val out = f.create(tmp, /* overwrite = */ false)
      try out.write(((meta ++ dirs).mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      try {
        if ("file" == f.makeQualified(target).toUri.getScheme &&
            !linkUnsupportedFs.contains(manifestDir(path).toString)) {
          // Local FS: FileContext.rename's no-overwrite mode is only
          // CHECK-then-rename — two racing committers can both pass the
          // check and POSIX rename(2) silently replaces the winner's
          // manifest, losing its commit (caught live by VersionedSpec's
          // racing-committer stress test). A hard link IS atomic
          // put-if-absent on POSIX: link(2) fails with EEXIST, so
          // exactly one committer publishes. tmp is unlinked by the
          // finally below (renamed stays false — the target is its own
          // directory entry to the same inode).
          try java.nio.file.Files.createLink(
            java.nio.file.Paths.get(f.makeQualified(target).toUri),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
          catch {
            // A file: mount without link(2) (exFAT/VFAT, some NFS/SMB/
            // FUSE): remember the incapacity and fall through to the
            // rename path below — commits keep working there with the
            // pre-link behavior (the narrow check-then-rename window)
            // instead of failing permanently. EEXIST is NOT this case —
            // FileAlreadyExistsException must be matched BEFORE its
            // FileSystemException superclass so it propagates to the
            // conflict mapping below. The default JDK provider reports
            // link-incapable mounts as FileSystemException (EPERM /
            // ENOTSUP), not UnsupportedOperationException — the latter
            // only comes from providers with no createLink at all.
            case e: java.nio.file.FileAlreadyExistsException => throw e
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException =>
              linkUnsupportedFs.add(manifestDir(path).toString)
              renameCommit(spark, tmp, target)
              renamed = true
          }
        } else {
          renameCommit(spark, tmp, target)
          renamed = true
        }
      } catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new ConflictException(
            s"version $v at $path was committed concurrently: $e")
        // Stores differ in how they surface a put-if-absent collision
        // (RawLocal/HDFS: FileAlreadyExistsException; object-store
        // adapters: PathExistsException) — both mean "lost the race",
        // which must map to the retryable ConflictException, not a
        // hard error.
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: org.apache.hadoop.fs.PathExistsException) =>
          throw new ConflictException(
            s"version $v at $path was committed concurrently: $e")
      }
    } finally {
      if (!renamed)
        try f.delete(tmp, true)
        catch { case NonFatal(e) => System.err.println(s"[versioned] could not delete $tmp: $e") }
    }
  }

  /** CREATE TABLE ... AS: stages `df` and commits it as the table's
    * first version (or, over an existing table, as a replace commit).
    * `buckets` lays the files out bucketed and sorted by that spec; the
    * manifest records it, and every later commit of the table keeps it. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      buckets: Option[BucketSpec] = None): Long = {
    val txn = begin(spark, path)
    stageWith(txn, df, Nil, buckets)
    commitReplace(spark, txn)
  }

  /** BEGIN: allocate a private staging area and snapshot the base
    * version. Nothing becomes visible until commit — there is no
    * "partially inserted" observable state. */
  def begin(spark: SparkSession, path: String): Txn =
    Txn(path, java.util.UUID.randomUUID().toString,
      versions(spark, path).lastOption.getOrElse(0L))

  /** Refresh a conflicted transaction onto the current version — the
    * staged files are untouched (they were never version-bound), only
    * the commit target moves. The caller re-validates its read set if
    * the statement's semantics demand it (an append rarely does). */
  def rebase(spark: SparkSession, txn: Txn): Txn = {
    val moved = txn.copy(base = versions(spark, txn.path).lastOption.getOrElse(0L))
    moved.stagedMeta = txn.stagedMeta
    moved
  }

  /** Write rows into the transaction's staging directory. May be called
    * repeatedly (overwrite semantics — restaging replaces the stage, it
    * never double-appends). Distributed write; only metadata is held
    * back for the commit. `partitionCols` lays the staged files out
    * hive-partitioned INSIDE the txn directory — readers of any version
    * then get directory pruning on those columns through every commit's
    * dir (the streaming ANN ingest's probe path), with zero change to
    * the commit protocol (the manifest still names one dir, and records
    * the columns so readers of the version know to read per dir). A
    * bucketed table's stage is bucketed by the spec its base version
    * records. */
  def stage(txn: Txn, df: DataFrame, partitionCols: Seq[String] = Nil): Unit = {
    val buckets = if (txn.base < 1) None
      else bucketsOf(readManifestLines(df.sparkSession, txn.path, txn.base))
    stageWith(txn, df, partitionCols, buckets)
  }

  private def stageWith(txn: Txn, df: DataFrame, partitionCols: Seq[String],
      buckets: Option[BucketSpec]): Unit = {
    buckets match {
      case Some(spec) =>
        require(partitionCols.isEmpty,
          s"bucketed table ${txn.path} cannot also be hive-partitioned")
        BucketedFiles.write(df, txn.stagingDir, spec)
      case None =>
        val w = df.write.mode(SaveMode.Overwrite)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(txn.stagingDir)
    }
    txn.stagedMeta = (SchemaPrefix + Io.readBackSchema(df, partitionCols).json) +:
      ((if (partitionCols.isEmpty) Nil else Seq(PartitionColsPrefix + partitionCols.mkString(","))) ++
        buckets.map(bucketLine))
  }

  /** COMMIT of an INSERT: version base+1 = base's dirs + staged dir.
    * Racing committers target the SAME number — create-if-absent
    * serializes them, the loser throws [[ConflictException]]. */
  def commitAppend(spark: SparkSession, txn: Txn): Long = {
    require(txn.base >= 1, s"cannot append to unborn table ${txn.path}")
    writeAppendManifest(spark, txn.path, txn.base, s"data/txn-${txn.id}", txn.stagedMeta)
  }

  /** COMMIT of an UPDATE/DELETE/overwrite rewrite: version base+1 is
    * the staged dir alone (the stage holds the full post-statement
    * table). Same first-committer-wins race as [[commitAppend]] — vital
    * here, since a replace built on a stale read would silently drop a
    * concurrent committer's rows. */
  def commitReplace(spark: SparkSession, txn: Txn): Long = {
    val next = txn.base + 1
    writeManifest(spark, txn.path, next, Seq(s"data/txn-${txn.id}"), txn.stagedMeta)
    next
  }

  /** ABORT: the manifest is never written, so the staged rows were
    * never observable; dropping the staging dir is garbage collection,
    * not rollback. Readers of the current version are untouched — the
    * reference abort test's post-condition, by construction. */
  def abort(spark: SparkSession, txn: Txn): Unit = {
    fs(spark, txn.path).delete(new Path(txn.stagingDir), true)
    ()
  }

  /** SELECT at the current version: plan from the newest manifest's
    * file list. Concurrent committers cannot affect a read that has
    * resolved its manifest — snapshot isolation. */
  def read(spark: SparkSession, path: String): DataFrame =
    readAsOf(spark, path, currentVersion(spark, path))

  /** Time travel: any committed version stays readable (manifests are
    * immutable and never deleted by commits), which is also what makes
    * "read after abort" trivially correct. */
  def readAsOf(spark: SparkSession, path: String, version: Long): DataFrame = {
    val lines = readManifestLines(spark, path, version)
    load(spark, path, lines, resolveDirs(spark, path, lines))
  }

  /** The bucket spec the current version records, if the table is bucketed. */
  def bucketSpec(spark: SparkSession, path: String): Option[BucketSpec] =
    bucketsOf(readManifestLines(spark, path, currentVersion(spark, path)))

  /** Data files (`part-*`) of `version`, over all its directories. */
  def fileCount(spark: SparkSession, path: String, version: Long): Int = {
    val f = fs(spark, path)
    readManifest(spark, path, version).map { d =>
      val it = f.listFiles(new Path(s"$path/$d"), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }.sum
  }

  // ---- streaming sink: exactly-once appends keyed by (appId, batchId) --

  private def batchTag(appId: String, batchId: Long) = {
    requireAppId(appId)
    s"#txn=$appId/$batchId"
  }

  /** appIds land inside manifest metadata lines and are parsed back by
    * prefix — a '/' would alias another app's ledger ("a" matching
    * "a/b"'s tags) and a newline would corrupt the manifest format. */
  private def requireAppId(appId: String): Unit =
    require(appId.nonEmpty && !appId.exists(c => c == '/' || c == '\n' || c == '\r'),
      s"invalid appId '$appId': must be non-empty, no '/', no newlines")

  /** Highest micro-batch id `appId` has ever committed to this table:
    * the id on the NEWEST manifest carrying the app's `#txn=` tag.
    * [[commitBatchAppend]] refuses any id ≤ the last committed one, so
    * an app's committed ids only ever increase with the version — the
    * newest tag is the maximum on every ledger this protocol writes.
    * Manifests are read newest first and the scan stops at the first
    * tag, so a sink that commits every batch reads one manifest per
    * call (plus the version listing); only an app whose last commit is
    * far back in the history pays a longer walk. */
  def lastCommittedBatch(spark: SparkSession, path: String,
      appId: String): Option[Long] = {
    requireAppId(appId)
    val prefix = s"#txn=$appId/"
    versions(spark, path).reverse.iterator
      .flatMap(v => readManifestLines(spark, path, v).find(_.startsWith(prefix)))
      .map(_.stripPrefix(prefix).toLong)
      .nextOption()
  }

  /** Exactly-once streaming append — the lakehouse foreachBatch sink
    * pattern (Delta's txnAppId/txnVersion, public protocol): each
    * micro-batch commits WITH its (appId, batchId) recorded in the
    * manifest metadata, so a replayed batch (failure recovery re-runs
    * the last epoch) is recognized and SKIPPED instead of
    * double-appended — idempotence is the commit log's, not the
    * caller's. Lost commit races rebase + re-check (another writer may
    * have committed OUR replay first). Returns the committed version,
    * or None when the batch was already durable. Use as:
    * {{{
    * df.writeStream.foreachBatch(Versioned.streamingSink(path, "app")).start()
    * }}} */
  def commitBatchAppend(spark: SparkSession, path: String, appId: String,
      batchId: Long, df: DataFrame, partitionCols: Seq[String] = Nil): Option[Long] = {
    // Dedup-check AFTER begin(), never before: the ledger scan must see
    // at least everything committed up to the snapshotted base. A
    // zombie driver replaying this same batch that commits between a
    // pre-begin check and begin() would land INSIDE our base — our
    // commit then targets base+1 with no version conflict and
    // double-appends. Checked after begin(), any same-batch commit is
    // either already in the ledger (seen here → skip) or lands after
    // this scan, which forces our own put-if-absent rename to lose →
    // ConflictException → the handler below re-checks the ledger.
    var txn = begin(spark, path)
    if (lastCommittedBatch(spark, path, appId).exists(_ >= batchId)) return None
    stage(txn, df, partitionCols)
    while (true) {
      try {
        // batch 0 of a fresh table CREATES it (base dirs empty).
        return Some(writeAppendManifest(spark, path, txn.base,
          s"data/txn-${txn.id}", meta = batchTag(appId, batchId) +: txn.stagedMeta))
      } catch {
        case _: ConflictException =>
          // Someone committed under us — if it was our own replayed
          // batch, stop; otherwise rebase and retry on the new base.
          if (lastCommittedBatch(spark, path, appId).exists(_ >= batchId)) {
            abort(spark, txn)
            return None
          }
          txn = rebase(spark, txn)
      }
    }
    None
  }

  /** `foreachBatch` adapter over [[commitBatchAppend]]. */
  def streamingSink(path: String, appId: String): (DataFrame, Long) => Unit =
    (df, batchId) => { commitBatchAppend(df.sparkSession, path, appId, batchId, df); () }

  /** Change feed between two versions — the incremental-consumption
    * story ([[streamingSink]]'s reader half): rows APPENDED in
    * (fromVersion, toVersion] read as a DataFrame, planned from exactly
    * the directories those commits added. For an append-only history
    * this is precise CDC at zero read amplification (a downstream
    * consumer processes each commit's files once, never rescans the
    * table); a REPLACE commit (update/optimize) rewrites the whole
    * layout, so its "delta" is the full new version — fail loud there
    * rather than hand the caller a silently-wrong incremental batch:
    * row-level diffing across a rewrite is an anti-join the caller must
    * opt into knowingly. */
  def changesBetween(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"$fromVersion > $toVersion")
    // fromVersion = 0 is the legitimate "since creation" bootstrap (the
    // unborn-table base begin() itself uses): the base dir set is empty.
    val fromDirs =
      if (fromVersion == 0) Set.empty[String]
      else readManifest(spark, path, fromVersion).toSet
    val toLines = readManifestLines(spark, path, toVersion)
    val toDirs = resolveDirs(spark, path, toLines)
    require(fromDirs.subsetOf(toDirs.toSet),
      s"version $toVersion is not an append descendant of $fromVersion " +
        "(a replace commit rewrote the layout) — read the full version " +
        "or diff rows explicitly")
    val added = toDirs.filterNot(fromDirs)
    if (added.isEmpty) load(spark, path, toLines, toDirs.take(1)).limit(0)
    else load(spark, path, toLines, added)
  }

  /** OPTIMIZE analog: rewrite the current version's rows into
    * ceil(bytes / target) files (coalesced, no shuffle) and publish as a
    * REPLACE commit — same rows, compacted layout (partitioned by the
    * same columns the version's manifest records; a bucketed table
    * keeps its spec, and each of the ceil(bytes / target) write tasks
    * emits one file per bucket it holds), atomically visible;
    * prior versions keep the old layout (time travel unaffected). A
    * writer landing mid-compaction wins: the compaction conflicts,
    * ABORTS and returns None rather than clobbering the newer commit —
    * re-run against the new version. This is the maintenance story a
    * streaming-append table needs ([[streamingSink]] accretes one dir
    * per micro-batch; compaction folds them without pausing writers or
    * readers). */
  def optimize(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Option[Long] = {
    val txn = begin(spark, path)
    require(txn.base >= 1, s"cannot optimize unborn table $path")
    val f = fs(spark, path)
    val lines = readManifestLines(spark, path, txn.base)
    val dirs = resolveDirs(spark, path, lines)
    val bytes = dirs.map(d => f.getContentSummary(new Path(s"$path/$d")).getLength).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    stage(txn, load(spark, path, lines, dirs).coalesce(n), partitionColsOf(lines))
    try Some(commitReplace(spark, txn))
    catch { case _: ConflictException => abort(spark, txn); None }
  }

  /** VACUUM: delete staged directories no manifest references (aborted
    * or lost-race transactions). Safe by the protocol: a referenced dir
    * can never become unreferenced, so listing manifests first is
    * race-free. Returns the number of directories removed. */
  def vacuum(spark: SparkSession, path: String,
      minAgeMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, path)
    val dataDir = new Path(s"$path/data")
    if (!f.exists(dataDir)) return 0
    // Raw dir lines, not resolved versions: every dir any version
    // resolves to appears verbatim in some manifest of its delta chain,
    // so the union of raw lines over all manifests IS the referenced
    // set — one read per manifest instead of one chain walk per version.
    val referenced = versions(spark, path)
      .flatMap(readManifestLines(spark, path, _))
      .filterNot(_.startsWith("#")).map(_.stripPrefix("data/")).toSet
    // Retention window: an unreferenced dir younger than `minAgeMs` may
    // be an IN-FLIGHT transaction (staged, not yet committed) — deleting
    // it would let that commit publish a manifest pointing at deleted
    // files. The default 24 h mirrors the production retention-period
    // practice (Delta/Iceberg); tests that own all writers pass 0.
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = f.listStatus(dataDir).toSeq
      .filter(st => !referenced.contains(st.getPath.getName)
        && st.getModificationTime < cutoff)
      .map(_.getPath)
    orphans.foreach(f.delete(_, true))
    orphans.size
  }
}
