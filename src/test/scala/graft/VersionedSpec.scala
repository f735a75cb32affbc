package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Versioned

/** Protocol-level properties of the versioned-manifest transaction layer
  * (graft.sources.Versioned) — the lakehouse-pattern answer to the
  * reference's xact manager (andb/storage/xact/). The reference's own
  * visible-behavior scenario (tests/unit/test_execution.py:64
  * test_abort_transaction) is replayed in ReferenceParitySpec; this spec
  * pins the protocol: staged-invisible, atomic publish, time travel,
  * optimistic conflict, vacuum safety. */
class VersionedSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-versioned").toString + "/t1"

  private def rows(path: String): Seq[(Int, Option[String])] =
    Versioned.read(spark, path).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq.sortBy(r => (r._1, r._2))

  private val base = Seq((1, Some("a1")), (2, Some("b2")), (3, None), (4, Some("c4")))
  private def baseDf = base.map { case (a, b) => (a, b.orNull) }.toDF("a", "b")

  test("staged rows are invisible until commit; commit is atomic append") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)
    assert(rows(path) == base)

    val txn = Versioned.begin(spark, path)
    Versioned.stage(txn, Seq((1, "hello"), (2, "world")).toDF("a", "b"))
    // The write has fully happened (files exist on disk), yet NO read can
    // see it: nothing references the staging dir.
    assert(rows(path) == base, "half-done write leaked into a read")
    val v2 = Versioned.commitAppend(spark, txn)
    assert(v2 == 2L)
    assert(rows(path) == (base ++ Seq((1, Some("hello")), (2, Some("world"))))
      .sortBy(r => (r._1, r._2)))
    // Time travel: the pre-commit version stays readable forever.
    assert(Versioned.readAsOf(spark, path, 1).count() == 4)
  }

  test("abort leaves the readable version unchanged; vacuum reclaims the orphan") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)

    val txn = Versioned.begin(spark, path)
    Versioned.stage(txn, Seq((9, "zz")).toDF("a", "b"))
    Versioned.abort(spark, txn)
    assert(rows(path) == base)
    assert(Versioned.currentVersion(spark, path) == 1L)

    // A lost/aborted txn that was never cleaned is garbage, not state:
    val ghost = Versioned.begin(spark, path)
    Versioned.stage(ghost, Seq((8, "yy")).toDF("a", "b"))
    // Default retention protects a FRESH unreferenced stage (it may be
    // an in-flight commit); an explicit zero window reclaims it.
    assert(Versioned.vacuum(spark, path) == 0)
    assert(Versioned.vacuum(spark, path, minAgeMs = 0) == 1)
    assert(rows(path) == base)
  }

  test("update is a replace commit; aborting an update changes nothing") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)

    // update t1 set b = 'hello' where a = 1 — committed.
    val upd = Versioned.begin(spark, path)
    Versioned.stage(upd, Versioned.read(spark, path)
      .selectExpr("a", "CASE WHEN a = 1 THEN 'hello' ELSE b END AS b"))
    Versioned.commitReplace(spark, upd)
    assert(rows(path) == Seq((1, Some("hello")), (2, Some("b2")), (3, None), (4, Some("c4"))))

    // same update shape — aborted: current version untouched.
    val before = Versioned.currentVersion(spark, path)
    val ab = Versioned.begin(spark, path)
    Versioned.stage(ab, Versioned.read(spark, path)
      .selectExpr("a", "'CLOBBERED' AS b"))
    Versioned.abort(spark, ab)
    assert(Versioned.currentVersion(spark, path) == before)
    assert(rows(path) == Seq((1, Some("hello")), (2, Some("b2")), (3, None), (4, Some("c4"))))
  }

  test("streaming sink: micro-batch commits are exactly-once under replay") {
    // The foreachBatch sink contract: a failure-recovery REPLAY of the
    // last epoch must not double-append — idempotence lives in the
    // commit log ((appId, batchId) recorded in manifest metadata), not
    // in the caller.
    val path = freshTable()
    assert(Versioned.commitBatchAppend(spark, path, "app", 0L,
      Seq((1, "a")).toDF("a", "b")).contains(1L))   // batch 0 creates
    assert(Versioned.commitBatchAppend(spark, path, "app", 1L,
      Seq((2, "b")).toDF("a", "b")).contains(2L))
    // Replayed batch 1: recognized as durable, skipped.
    assert(Versioned.commitBatchAppend(spark, path, "app", 1L,
      Seq((2, "b")).toDF("a", "b")).isEmpty)
    assert(Versioned.read(spark, path).count() == 2)
    assert(Versioned.lastCommittedBatch(spark, path, "app").contains(1L))
    // A different writer's ledger is independent.
    assert(Versioned.commitBatchAppend(spark, path, "other", 1L,
      Seq((3, "c")).toDF("a", "b")).contains(3L))
    assert(Versioned.read(spark, path).count() == 3)
    assert(Versioned.lastCommittedBatch(spark, path, "app").contains(1L))
    // Nothing leaked: every staged dir is referenced or was aborted.
    assert(Versioned.vacuum(spark, path, minAgeMs = 0) == 0)
  }

  test("lastCommittedBatch stops at the newest tagged manifest") {
    // Committed ids per appId only increase with the version, so the
    // newest tag is the ledger's maximum and older manifests are never
    // read: an unparseable tag on an older version must not matter.
    val path = freshTable()
    (1L to 3L).foreach(b => Versioned.commitBatchAppend(spark, path, "app", b,
      Seq((b.toInt, "x")).toDF("a", "b")))
    assert(Versioned.versions(spark, path) == Seq(1L, 2L, 3L))
    val m1 = java.nio.file.Paths.get(path, "_versions", f"${1L}%020d.manifest")
    val lines = new String(Files.readAllBytes(m1), "UTF-8")
    assert(lines.contains("#txn=app/1\n"))
    Files.write(m1, lines.replace("#txn=app/1\n", "#txn=app/not-a-number\n")
      .getBytes("UTF-8"))
    assert(Versioned.lastCommittedBatch(spark, path, "app").contains(3L))
    assert(Versioned.lastCommittedBatch(spark, path, "other").isEmpty)
  }

  test("foreachBatch sink end-to-end: a real stream lands as versioned commits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = freshTable()
    val in = MemoryStream[(Int, String)]
    val q = in.toDS().toDF("a", "b").writeStream
      .foreachBatch(graft.sources.Versioned.streamingSink(path, "ing"))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString)
      .start()
    try {
      in.addData((1, "a"), (2, "b")); q.processAllAvailable()
      in.addData((3, "c")); q.processAllAvailable()
      assert(Versioned.read(spark, path).collect().map(_.getInt(0)).sorted
        .sameElements(Array(1, 2, 3)))
      // Each micro-batch is one atomic commit; history is per-batch.
      assert(Versioned.versions(spark, path) == Seq(1L, 2L))
      assert(Versioned.readAsOf(spark, path, 1).count() == 2)
      assert(Versioned.lastCommittedBatch(spark, path, "ing").contains(1L))
    } finally q.stop()
  }

  test("changesBetween reads exactly the appended delta; replace commits fail loud") {
    val path = freshTable()
    Versioned.commitBatchAppend(spark, path, "w", 0L, Seq((1, "a")).toDF("a", "b"))
    Versioned.commitBatchAppend(spark, path, "w", 1L, Seq((2, "b"), (3, "c")).toDF("a", "b"))
    Versioned.commitBatchAppend(spark, path, "w", 2L, Seq((4, "d")).toDF("a", "b"))
    // Delta (1, 3]: commits 2 and 3 only — never rescans commit 1.
    val delta = Versioned.changesBetween(spark, path, 1L, 3L)
    assert(delta.collect().map(_.getInt(0)).sorted.sameElements(Array(2, 3, 4)))
    // Zero-width range: empty frame, correct schema.
    assert(Versioned.changesBetween(spark, path, 2L, 2L).count() == 0)
    // A replace commit breaks dir-level lineage — incremental readers
    // must be told, not silently handed the whole table as a "delta".
    Versioned.optimize(spark, path)
    intercept[IllegalArgumentException] {
      Versioned.changesBetween(spark, path, 3L, 4L)
    }
  }

  test("optimize compacts the layout as a replace commit, preserving rows and history") {
    val path = freshTable()
    // Accrete many small commits (the streaming-append shape).
    Versioned.commitBatchAppend(spark, path, "w", 0L, Seq((1, "a")).toDF("a", "b"))
    (1 to 4).foreach { i =>
      Versioned.commitBatchAppend(spark, path, "w", i.toLong,
        Seq((i * 10, s"r$i")).toDF("a", "b"))
    }
    val before = Versioned.read(spark, path).collect().map(_.getInt(0)).sorted
    val dirsBefore = Versioned.read(spark, path).inputFiles.length
    val v = Versioned.optimize(spark, path)
    assert(v.contains(6L))
    val after = Versioned.read(spark, path)
    assert(after.collect().map(_.getInt(0)).sorted.sameElements(before))
    assert(after.inputFiles.length < dirsBefore,
      s"compaction did not reduce files: ${after.inputFiles.length} vs $dirsBefore")
    // History intact: the pre-compaction version still reads the old layout.
    assert(Versioned.readAsOf(spark, path, 5).count() == 5)
    // Orphan cleanup finds nothing (optimize staged dir is referenced).
    assert(Versioned.vacuum(spark, path, minAgeMs = 0) == 0)
  }

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCounter(spark.sparkContext)(body)

  private def manifests(path: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(path, "_versions")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".manifest")).toSeq
  }

  test("reads, change feeds and optimize plan from the manifest's schema: no inference job") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)
    val txn = Versioned.begin(spark, path)
    Versioned.stage(txn, Seq((5, "e5")).toDF("a", "b"))
    Versioned.commitAppend(spark, txn)
    assert(manifests(path).forall(m => Files.readString(m).contains("#schema=")))
    val (read, readJobs) = jobs(Versioned.read(spark, path))
    assert(readJobs == 0, s"planning a versioned read ran $readJobs job(s)")
    assert(read.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(rows(path) == (base :+ ((5, Some("e5")))).sortBy(r => (r._1, r._2)))
    assert(jobs(Versioned.changesBetween(spark, path, 1L, 2L))._2 == 0)
    // optimize: only the rewrite itself, no footer inference before it.
    val (v, optJobs) = jobs(Versioned.optimize(spark, path))
    assert(v.contains(3L) && optJobs == 1, s"optimize ran $optJobs jobs")
    assert(rows(path) == (base :+ ((5, Some("e5")))).sortBy(r => (r._1, r._2)))
    // A manifest without the schema line (an older table) still reads,
    // through footer inference.
    manifests(path).foreach { m =>
      Files.writeString(m, Files.readString(m).linesIterator
        .filterNot(_.startsWith("#schema=")).map(_ + "\n").mkString)
    }
    val (_, inferJobs) = jobs(Versioned.read(spark, path))
    assert(inferJobs == 1, s"an unrecorded schema should infer with one job, ran $inferJobs")
    assert(rows(path) == (base :+ ((5, Some("e5")))).sortBy(r => (r._1, r._2)))
    assert(Versioned.readAsOf(spark, path, 1).count() == 4)
  }

  test("a bucketed table keeps its spec through appends and optimize: exchange-free key joins, bucket-pruned key filters") {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.functions.col
    val path = freshTable()
    val spec = BucketSpec(4, Seq("k"), Seq("k"))
    def batch(lo: Int) = (lo until lo + 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Versioned.create(spark, path, batch(0), Some(spec))
    assert(Versioned.commitBatchAppend(spark, path, "w", 0L, batch(40)).contains(2L))
    assert(Versioned.commitBatchAppend(spark, path, "w", 1L, batch(80)).contains(3L))
    val filesBefore = Versioned.fileCount(spark, path, 3L)
    assert(Versioned.optimize(spark, path).contains(4L))
    // 1. The spec survives every commit: the appends and the optimize
    //    took it from their base manifest, and every file is bucketed.
    assert(manifests(path).size == 4 && manifests(path).forall(m =>
      Files.readString(m).linesIterator.contains("#buckets=4;k;k")))
    assert(Versioned.bucketSpec(spark, path).contains(spec))
    assert(Versioned.fileCount(spark, path, 4L) < filesBefore)
    assert(Versioned.read(spark, path).inputFiles.forall(f =>
      org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new org.apache.hadoop.fs.Path(f).getName).isDefined))
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 120L))
    // 2. A join on the key shuffles only the other side: the versioned
    //    scan is bucketed and feeds the join with no exchange.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = Versioned.read(sess, path)
      .join(sess.range(0, 200).select(col("id").as("k"), col("id").as("w")), "k")
    assert(j.collect().length == 120)
    val plan = j.queryExecution.executedPlan.treeString.split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1 &&
      plan.contains("Bucketed: true"), s"versioned side not read pre-shuffled:\n$plan")
    // 3. A key filter reads one bucket of the four.
    val f = Versioned.read(spark, path).filter(col("k") === 7L)
    assert(f.collect().map(_.getString(1)).toSeq == Seq("v7"))
    assert(TestSpark.bucketsRead(f, path) == ((1, 4)))
  }

  test("hive-partitioned stages record partition columns last and read back correctly") {
    val path = freshTable()
    Versioned.commitBatchAppend(spark, path, "w", 0L,
      Seq((1, 10, "x"), (2, 20, "y")).toDF("p", "a", "b"), partitionCols = Seq("p"))
    // One commit: the version reads directly, with the schema footer
    // inference plus partition discovery would give, and prunes on p.
    val (df, readJobs) = jobs(Versioned.read(spark, path))
    assert(readJobs == 0)
    val Seq(txnDir) = Files.list(java.nio.file.Paths.get(path, "data")).toArray.toSeq
    assert(df.schema == spark.read.parquet(txnDir.toString).schema)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b", "p"))
    val pruned = df.filter($"p" === 1)
    assert(pruned.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq == Seq((10, "x", 1)))
    assert(scannedFiles(pruned) == Seq(1L), pruned.queryExecution.executedPlan.toString)
  }

  /** Files each parquet scan of `df`'s executed plan read. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }

  test("a multi-commit hive-partitioned table reads and optimizes with partition pruning") {
    val path = freshTable()
    Versioned.commitBatchAppend(spark, path, "w", 0L,
      Seq((1, 10, "x"), (2, 20, "y")).toDF("p", "a", "b"), partitionCols = Seq("p"))
    Versioned.commitBatchAppend(spark, path, "w", 1L,
      Seq((1, 30, "z"), (3, 40, "w")).toDF("p", "a", "b"), partitionCols = Seq("p"))
    def prunedRows(v: Long): (Seq[(Int, String, Int)], Seq[Long]) = {
      val df = Versioned.readAsOf(spark, path, v).filter($"p" === 1)
      (df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq,
        scannedFiles(df))
    }
    val all = Seq((10, "x", 1), (20, "y", 2), (30, "z", 1), (40, "w", 3))
    // Each commit directory is its own partition root: one scan per
    // commit, each reading only its p=1 files.
    assert(Versioned.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq == all)
    assert(prunedRows(2L) == ((Seq((10, "x", 1), (30, "z", 1)), Seq(1L, 1L))))
    assert(manifests(path).forall(m => Files.readString(m).contains("#partitionCols=p\n")))
    // optimize restages by p: one directory, still pruned to one file.
    assert(Versioned.optimize(spark, path).contains(3L))
    assert(Versioned.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq == all)
    assert(prunedRows(3L) == ((Seq((10, "x", 1), (30, "z", 1)), Seq(1L))))
    // The change feed of a partitioned append reads per directory too.
    assert(Versioned.changesBetween(spark, path, 0L, 2L).count() == 4)
  }

  test("concurrent committers: exactly one wins, the loser gets a conflict") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)

    val t1 = Versioned.begin(spark, path)
    val t2 = Versioned.begin(spark, path)
    Versioned.stage(t1, Seq((10, "t1")).toDF("a", "b"))
    Versioned.stage(t2, Seq((20, "t2")).toDF("a", "b"))
    assert(Versioned.commitAppend(spark, t1) == 2L)
    // t2 committed against the same base version → create-if-absent on
    // manifest #2 fails: write-write conflict surfaced, not silently
    // merged or lost.
    intercept[Versioned.ConflictException] { Versioned.commitAppend(spark, t2) }
    // Rebase onto the new base and retry: commit succeeds with t1's rows
    // preserved under it (append-append commutes; nothing is lost).
    assert(Versioned.commitAppend(spark, Versioned.rebase(spark, t2)) == 3L)
    assert(Versioned.read(spark, path).count() == 6)

    // A lost race must not leak its temp manifest: _versions/ is swept
    // by nothing (vacuum only touches data/), so the commit path itself
    // deletes the tmp file on every non-renamed exit.
    val vdir = new java.io.File(s"$path/_versions")
    assert(vdir.listFiles().forall(!_.getName.startsWith(".tmp-")),
      "conflicted commit leaked a .tmp- manifest in _versions/")
  }

  /** Raw manifest lines for version v, straight off disk. */
  private def manifestLines(path: String, v: Long): Seq[String] = {
    val f = new java.io.File(f"$path/_versions/$v%020d.manifest")
    scala.io.Source.fromFile(f, "UTF-8").getLines().toList.filter(_.nonEmpty)
  }

  /** Number of manifest FILES a resolution of version v must read,
    * replayed from the raw files (the object-store cost model). */
  private def chainLength(path: String, v: Long): Int =
    manifestLines(path, v).collectFirst {
      case l if l.startsWith("#delta=") => l.stripPrefix("#delta=").toLong
    } match {
      case Some(base) => 1 + chainLength(path, base)
      case None => 1
    }

  test("checkpointed delta manifests: 1k-commit history resolves in O(1) manifest reads") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf)
    // Manifest-only appends (no staged data) — the protocol layer is
    // what's under test, and 999 parquet writes would swamp the suite.
    for (_ <- 1 to 999) Versioned.commitAppend(spark, Versioned.begin(spark, path))
    assert(Versioned.currentVersion(spark, path) == 1000L)

    // Every version's delta chain terminates within CheckpointEvery
    // file reads — resolution cost is bounded by the checkpoint cadence,
    // not the history length.
    val worst = (1L to 1000L).map(chainLength(path, _)).max
    assert(worst <= Versioned.CheckpointEvery,
      s"resolution chain reached $worst manifests (cap ${Versioned.CheckpointEvery})")

    // Append cost: a non-checkpoint commit writes O(1) lines (delta
    // pointer + one dir), never the full history.
    assert(manifestLines(path, 999L).size <= 3,
      s"delta manifest not O(1): ${manifestLines(path, 999L).size} lines")
    // Checkpoint versions are full snapshots: self-contained dir lists.
    assert(manifestLines(path, 992L).count(!_.startsWith("#")) == 992,
      "checkpoint manifest is not a full snapshot")
  }

  test("delta manifests preserve the protocol: time travel, CDC and vacuum across checkpoints") {
    val path = freshTable()
    Versioned.create(spark, path, baseDf) // v1, 4 rows
    for (i <- 1 to 19) { // v2..v20 — crosses the v16 checkpoint
      val t = Versioned.begin(spark, path)
      Versioned.stage(t, Seq((100 + i, s"r$i")).toDF("a", "b"))
      assert(Versioned.commitAppend(spark, t) == 1L + i)
    }
    // Time travel resolves identically through deltas, the checkpoint,
    // and deltas stacked on the checkpoint.
    assert(Versioned.readAsOf(spark, path, 5L).count() == 4 + 4)
    assert(Versioned.readAsOf(spark, path, 16L).count() == 4 + 15)
    assert(Versioned.read(spark, path).count() == 4 + 19)
    // CDC across the checkpoint boundary: exactly the appended rows.
    val delta = Versioned.changesBetween(spark, path, 14L, 18L)
    assert(delta.count() == 4)
    assert(delta.select("a").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(114, 115, 116, 117))
    // Vacuum still reclaims a crashed writer's orphaned stage (staged,
    // never committed, never aborted) and keeps every referenced dir
    // readable (raw-line reference scan).
    val dead = Versioned.begin(spark, path)
    Versioned.stage(dead, Seq((999, "zzz")).toDF("a", "b"))
    assert(Versioned.vacuum(spark, path, minAgeMs = 0) == 1)
    assert(Versioned.read(spark, path).count() == 4 + 19)
  }

  test("stress: racing committers with rebase-retry land every append exactly once") {
    // The deterministic two-txn test pins the protocol; this one pins
    // it under REAL races — 6 threads × 5 appends each, all conflicts
    // resolved by the documented rebase-retry loop, interleavings
    // decided by the scheduler. The linearizable outcome is total:
    // every row exactly once, versions contiguous, no tmp leaks.
    val path = freshTable()
    Versioned.create(spark, path, baseDf)
    val nThreads = 6; val perThread = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(nThreads)
    for (t <- 0 until nThreads) pool.submit(new Runnable {
      def run(): Unit = try {
        for (i <- 0 until perThread) {
          var txn = Versioned.begin(spark, path)
          Versioned.stage(txn, Seq((t * 100 + i, s"w$t-$i")).toDF("a", "b"))
          var done = false
          var retries = 0
          while (!done) {
            try { Versioned.commitAppend(spark, txn); done = true }
            catch {
              case _: Versioned.ConflictException =>
                retries += 1
                assert(retries <= 200, "livelock: conflict never resolves")
                txn = Versioned.rebase(spark, txn)
            }
          }
        }
      } catch { case e: Throwable => failures.add(e) } finally latch.countDown()
    })
    assert(latch.await(180, java.util.concurrent.TimeUnit.SECONDS), "stress timed out")
    pool.shutdown()
    assert(failures.isEmpty, s"worker failures: ${failures.peek()}")
    val df = Versioned.read(spark, path)
    // Exactly-once: base rows + one row per (thread, i), nothing lost
    // or doubled under any interleaving.
    assert(df.count() == base.size + nThreads * perThread)
    val dup = df.filter(org.apache.spark.sql.functions.col("b").startsWith("w"))
      .groupBy("b").count()
      .filter(org.apache.spark.sql.functions.col("count") =!= 1L).count()
    assert(dup == 0, "a racing append landed twice or vanished")
    // Versions are a contiguous chain from create's v1: every commit
    // got its own version, none lost, none doubled.
    val vs = Versioned.versions(spark, path)
    assert(vs == (1L to (1L + nThreads.toLong * perThread)).toSeq,
      s"version chain has gaps: $vs")
    // Time travel still works mid-chain after the storm.
    assert(Versioned.readAsOf(spark, path, 1).count() == base.size)
    // No lost race leaked a staged-but-never-published tmp manifest.
    val vdir = new java.io.File(s"$path/_versions")
    assert(vdir.listFiles().forall(!_.getName.startsWith(".tmp-")),
      "racing commits leaked .tmp- manifests")
  }

  test("a crash-leftover tmp manifest is inert: ignored by reads, commits proceed") {
    // The finally-delete covers every in-process failure, but a
    // kill -9 between create and rename still strands one tmp file.
    // The protocol's safety does not depend on cleaning it: tmp names
    // never parse as versions, so reads, time travel and later commits
    // are all unaffected by the orphan.
    val path = freshTable()
    Versioned.create(spark, path, baseDf)
    val orphan = new java.io.File(s"$path/_versions/.tmp-deadbeef")
    java.nio.file.Files.write(orphan.toPath,
      "data/txn-crashed\n".getBytes("UTF-8"))
    assert(Versioned.versions(spark, path) == Seq(1L), "orphan parsed as a version")
    val t = Versioned.begin(spark, path)
    Versioned.stage(t, Seq((9, "z")).toDF("a", "b"))
    assert(Versioned.commitAppend(spark, t) == 2L)
    assert(Versioned.read(spark, path).count() == base.size + 1)
    assert(Versioned.readAsOf(spark, path, 1).count() == base.size)
    assert(orphan.exists(), "the orphan is garbage, not a hazard — still there")
  }

  test("stress: zombie drivers replaying the same batches commit exactly once") {
    // The exactly-once claim under its REAL threat model: 5 concurrent
    // "drivers" with the same appId each replay batches 0..5 in order
    // (a zombie storm — every batch raced by up to 5 identical
    // committers). The ledger check runs after begin(), and the commit
    // point is atomic, so each batch must land exactly once no matter
    // which replica wins which race.
    val path = freshTable()
    val nDrivers = 5; val nBatches = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nDrivers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(nDrivers)
    for (_ <- 0 until nDrivers) pool.submit(new Runnable {
      def run(): Unit = try {
        for (b <- 0 until nBatches)
          Versioned.commitBatchAppend(spark, path, "zombieapp", b.toLong,
            Seq((b, s"batch$b")).toDF("a", "b"))
      } catch { case e: Throwable => failures.add(e) } finally latch.countDown()
    })
    assert(latch.await(180, java.util.concurrent.TimeUnit.SECONDS), "stress timed out")
    pool.shutdown()
    assert(failures.isEmpty, s"driver failures: ${failures.peek()}")
    // Exactly-once: one row per batch, each batch value exactly once.
    val got = Versioned.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(got == (0 until nBatches).map(b => (b, s"batch$b")),
      s"replayed batches lost or doubled: $got")
    // One manifest per batch: no replica published a duplicate version.
    assert(Versioned.versions(spark, path).size == nBatches)
  }
}
