package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** OCC / exactly-once ledger PROPERTY test (r12 verdict stretch #8):
  * VersionedSpec pins the protocol on hand-written examples; the
  * fold-back now rides the same ledger, so the invariants get pinned on
  * GENERATED schedules — random interleavings of committing writers,
  * replayed batches, aborted transactions, folds into a second table,
  * and 3-writer parallel bursts that race the put-if-absent rename and
  * exercise the rebase path for real.
  *
  * Invariants asserted after every schedule, on the table's own state
  * (never on bookkeeping the schedule kept for itself):
  *
  *   1. versions are exactly 1..current — monotone, gapless, no
  *      version lost to a conflict retry;
  *   2. no lost commit / exactly-once: the table's rows are EXACTLY
  *      one copy of every first-time-committed batch payload — replays
  *      add nothing, aborts add nothing, racing writers all land;
  *   3. folds copy each row exactly once: a Fold appends the table's
  *      changes in (d, v] to a second table under ledger tag v, where
  *      d is the last tag that table's ledger holds (the per-table
  *      discipline of Dedup.refreshCorpusLayout), and a replay of v is
  *      skipped; after the schedule the second table holds exactly the
  *      rows of the first table as of its last fold version — the "no
  *      double fold / no skipped row" half of fold exactly-once,
  *      independent of the layout kernels.
  *
  * Fixed Gen seeds — deterministic run-to-run. GRAFT_OCC_SCHEDULES
  * overrides the schedule count (default sized for the CI suite; the
  * 500+-schedule evidence leg is a one-off, recorded in BASELINE.md). */
class VersionedOccPropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import graft.sources.Versioned
  import spark.implicits._

  private sealed trait Op
  private case class Commit(writer: Int) extends Op
  private case class Replay(back: Int) extends Op
  private case object AbortOp extends Op
  private case object Fold extends Op
  private case object Burst extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.chooseNum(0, 2).map(Commit),
    2 -> Gen.chooseNum(1, 4).map(Replay),
    1 -> Gen.const(AbortOp),
    2 -> Gen.const(Fold),
    1 -> Gen.const(Burst))
  private val genSchedule: Gen[List[Op]] =
    Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, genOp))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
    df.select(col("w"), col("b"), col("u"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  test("OCC ledger invariants hold over generated writer/replay/abort/fold/burst schedules") {
    val schedules =
      sys.env.get("GRAFT_OCC_SCHEDULES").flatMap(_.toIntOption).getOrElse(40)
    val root = java.nio.file.Files.createTempDirectory("graft-occ").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global

    for (s <- 0 until schedules) {
      val ops = genSchedule.pureApply(Gen.Parameters.default, Seed(7700L + s))
      val path = s"$root/t$s"
      val foldPath = s"$root/f$s"
      var uid = 0L
      val nextBatch = scala.collection.mutable.Map(0 -> 0L, 1 -> 0L, 2 -> 0L)
      // (writer, batchId, uid) of every FIRST-TIME issued commit.
      val issued = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      def payload(w: Int, b: Long, u: Long) =
        Seq((w, b, u)).toDF("w", "b", "u").coalesce(1)
      def issueSlot(w: Int): (Int, Long, Long) = this.synchronized {
        val b = nextBatch(w); nextBatch(w) = b + 1
        uid += 1
        issued += ((w, b, uid))
        (w, b, uid)
      }
      def commitOnce(w: Int): Unit = {
        val (w2, b, u) = issueSlot(w)
        val r = Versioned.commitBatchAppend(spark, path, s"w$w2", b, payload(w2, b, u))
        assert(r.nonEmpty, s"schedule $s: first-time commit (w$w2,$b) was skipped")
      }
      ops.foreach {
        case Commit(w) => commitOnce(w)
        case Replay(back) if issued.nonEmpty =>
          val (w, b, u) = issued(math.max(0, issued.size - back))
          // Crash-recovery re-issue of an already-durable batch: the
          // ledger must skip it (returns None), not double-append.
          assert(Versioned.commitBatchAppend(spark, path, s"w$w", b,
            payload(w, b, u)).isEmpty, s"schedule $s: replay (w$w,$b) landed twice")
        case Replay(_) => () // nothing issued yet
        case AbortOp =>
          if (issued.isEmpty) commitOnce(0) // abort needs an existing table
          val txn = Versioned.begin(spark, path)
          uid += 1
          Versioned.stage(txn, payload(9, -1L, uid))
          Versioned.abort(spark, txn)
        case Fold =>
          if (issued.isEmpty) commitOnce(1)
          // refreshCorpusLayout's per-table ledger: commit (done, v]
          // once under tag v; a replay of v is skipped.
          val v = Versioned.currentVersion(spark, path)
          val done = Versioned.lastCommittedBatch(spark, foldPath, "fold").getOrElse(0L)
          def foldOnce() = Versioned.commitBatchAppend(spark, foldPath, "fold", v,
            Versioned.changesBetween(spark, path, done, v))
          if (done < v)
            assert(foldOnce().nonEmpty, s"schedule $s: first fold through $v was skipped")
          assert(foldOnce().isEmpty, s"schedule $s: replayed fold through $v landed twice")
        case Burst =>
          // Three writers race begin→stage→rename concurrently; the
          // losers must rebase and land, not vanish. (First burst on an
          // unborn table: creation itself is raced — also legal.)
          val slots = (0 to 2).map(issueSlot)
          val fs = slots.map { case (w, b, u) => Future {
            val r = Versioned.commitBatchAppend(spark, path, s"w$w", b,
              payload(w, b, u))
            assert(r.nonEmpty, s"schedule $s: burst commit (w$w,$b) was skipped")
          } }
          Await.result(Future.sequence(fs), 120.seconds)
      }
      if (issued.isEmpty) commitOnce(0) // degenerate schedule: still check a table

      // ---- invariant 1: monotone, gapless versions ---------------------
      val vs = Versioned.versions(spark, path)
      assert(vs == (1L to vs.size.toLong),
        s"schedule $s: version chain $vs is not 1..${vs.size}")
      // ---- invariant 2: exactly-once, no lost commit -------------------
      val got = rowsOf(Versioned.read(spark, path))
      assert(got.sorted == issued.toSeq.sorted,
        s"schedule $s: table rows != first-time commits " +
          s"(missing=${(issued.toSet -- got.toSet).take(3)}, " +
          s"extra=${(got.toSet -- issued.toSet).take(3)})")
      // ---- invariant 3: folds copy each row exactly once ---------------
      Versioned.lastCommittedBatch(spark, foldPath, "fold").foreach { lastFold =>
        val folded = rowsOf(Versioned.read(spark, foldPath))
        val source = rowsOf(Versioned.readAsOf(spark, path, lastFold))
        assert(folded.size == folded.toSet.size,
          s"schedule $s: a row was folded twice (double fold)")
        assert(folded.sorted == source.sorted,
          s"schedule $s: folds miss rows (skipped fold): " +
            s"${(source.toSet -- folded.toSet).take(3)}")
      }
    }
  }
}
