package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-layout maintenance PROPERTY test (r13 verdict item 5):
  * VersionedOccPropertySpec pins the LEDGER invariants on generated
  * schedules; the layout's maintenance ops — fold, killed fold,
  * compaction, killed compaction — were only ever asserted in
  * example-based AnnIndexSpec sequences. This spec generates random
  * interleavings of the full maintenance surface against a real (tiny)
  * corpus dedup layout and asserts, per schedule, the invariants the
  * whole machine exists for:
  *
  *   1. exactly-once admission — the admitted log holds EXACTLY the
  *      fresh slices (corpus duplicates rejected every time, nothing
  *      admitted twice), across any interleaving of folds, killed
  *      folds, compactions, and killed compactions;
  *   2. fold ≡ rebuild — after a closing fold, the standing layout is
  *      row-identical to a from-scratch rebuild on corpus + admissions;
  *   3. vacuum is safe — `Versioned.vacuum(minAgeMs = 0)` on every
  *      layout table removes exactly the killed compactions' stages,
  *      and every table reads the same rows after it as before.
  *
  * The crash states are the ones the commit protocol can leave:
  * KilledFold(n) = a fold that committed to the first n layout tables
  * (bands, grams, hashes order) and died; KilledCompact = an optimize
  * whose restage landed and whose commit never did. The generator
  * deliberately lets an Admit land right after either.
  *
  * Fixed Gen seeds — deterministic run-to-run. GRAFT_LAYOUT_SCHEDULES
  * overrides the schedule count (a positive integer; default sized for
  * the CI suite, the big evidence leg is a one-off recorded in
  * BASELINE.md). */
class CorpusLayoutPropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import graft.operators.Dedup
  import graft.sources.Versioned

  // Small geometry: same code paths as production (8 buckets), sized so
  // a schedule is seconds, not minutes. Folds and compactions read the
  // bucket count from each table's manifest, so only the layout writes
  // take it.
  private val Buckets = 1

  private sealed trait Op
  private case object Admit extends Op
  private case object Fold extends Op
  private case class KilledFold(tables: Int) extends Op
  private case object Compact extends Op
  private case class KilledCompact(table: String) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.const(Admit),
    3 -> Gen.const(Fold),
    2 -> Gen.chooseNum(0, 2).map(KilledFold),
    2 -> Gen.const(Compact),
    1 -> Gen.oneOf(Dedup.LayoutTables.map(_.suffix)).map(KilledCompact))
  private val genSchedule: Gen[List[Op]] =
    Gen.chooseNum(4, 10).flatMap(n => Gen.listOfN(n, genOp))

  test("layout maintenance invariants hold over generated admit/fold/killed-fold/compact/torn-compact schedules") {
    val schedules = Bench.positiveInt("GRAFT_LAYOUT_SCHEDULES",
      sys.env.get("GRAFT_LAYOUT_SCHEDULES"), 6)
    val root = java.nio.file.Files.createTempDirectory("graft-layout-occ").toString
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .localCheckpoint()
    val corpus = docs.filter(col("doc_id") % 10 === 0).localCheckpoint()
    val pool = docs.filter(col("doc_id") % 10 =!= 0).localCheckpoint()

    for (s <- 0 until schedules) {
      val ops = genSchedule.pureApply(Gen.Parameters.default, Seed(9200L + s))
      val prefix = s"glp_$s"
      val rb = s"${prefix}_rb"
      val admitted = s"$root/adm_$s"
      def layoutTables(p: String) = Dedup.LayoutTables.map(t => s"${p}_${t.suffix}")
      (layoutTables(prefix) ++ layoutTables(rb))
        .foreach(t => graft.Ddl.dropManagedTable(spark, t))
      Dedup.writeCorpusDedupLayout(corpus, prefix, buckets = Buckets)

      var epoch = 0
      val slices = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val expectedAdmitted = scala.collection.mutable.Set.empty[Long]
      val killedCompacts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      def textStore: DataFrame =
        (docs +: slices.toSeq).reduce(_ unionByName _).select(col("doc_id"), col("text"))

      // One crawl epoch through the production sink: probe, ledger commit.
      val sink = Dedup.streamingIncrementalDedupSink(prefix, admitted, "glpapp")
      def admitOnce(): Unit = {
        epoch += 1
        // Per-WORD vocab transform (the SoakMain construction): the
        // corpus carries planted near-dup pairs, so a prefix-only
        // transform would leave fresh docs that the engine correctly
        // rejects as near-dups of standing docs — every shingle must
        // change for "always admitted" to be a sound expectation.
        val fresh = pool.filter(col("doc_id") % 37 === epoch % 37)
          .select((col("doc_id") + (10000000L + epoch * 100000L)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              w => concat(lit(s"s${s}e${epoch}v"), w)), " ").as("text"),
            col("source"), col("n_chars"))
        val dup = corpus.filter(col("doc_id") % 13 === epoch % 13)
          .select((col("doc_id") + (50000000L + epoch * 100000L)).as("doc_id"),
            col("text"), col("source"), col("n_chars"))
        val batch = fresh.unionByName(dup).localCheckpoint()
        slices += batch
        expectedAdmitted ++= fresh.select(col("doc_id")).collect().map(_.getLong(0))
        sink(batch, epoch.toLong)
      }

      ops.foreach {
        case Admit => admitOnce()
        case Fold =>
          if (epoch == 0) admitOnce()
          Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore)
        case KilledFold(n) =>
          if (epoch == 0) admitOnce()
          Dedup.foldInto(spark, prefix, Dedup.LayoutTables.take(n), admitted, textStore,
            3, 8, 4)
        case Compact =>
          // maxFilesPerBucket=0 so every populated table rewrites — the
          // property is about interleaving safety, not thresholds.
          Dedup.compactCorpusLayout(spark, prefix, maxFilesPerBucket = 0)
        case KilledCompact(suffix) =>
          val path = Ddl.warehousePath(spark, s"${prefix}_$suffix")
          val txn = Versioned.begin(spark, path)
          Versioned.stage(txn, Versioned.read(spark, path).coalesce(1))
          killedCompacts(suffix) += 1
      }

      // Closing fold: finishes any killed fold and folds the remaining
      // admissions, so the invariants compare settled states.
      if (epoch == 0) admitOnce()
      Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore)

      // ---- invariant 1: exactly-once admission -------------------------
      val got = Versioned.read(spark, admitted)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      assert(got.size == got.toSet.size,
        s"schedule $s (${ops.mkString(",")}): double admission")
      assert(got.toSet == expectedAdmitted.toSet,
        s"schedule $s (${ops.mkString(",")}): admitted set wrong " +
          s"(missing=${(expectedAdmitted -- got.toSet).take(3)}, " +
          s"extra=${(got.toSet -- expectedAdmitted).take(3)})")

      // ---- invariant 2: fold ≡ rebuild ---------------------------------
      val admittedTexts = Versioned.read(spark, admitted)
        .select(col("doc_id")).join(textStore, Seq("doc_id"))
      Dedup.writeCorpusDedupLayout(
        corpus.select(col("doc_id"), col("text")).unionByName(admittedTexts),
        rb, buckets = Buckets)
      def snap(p: String): Seq[Seq[String]] = Dedup.LayoutTables
        .map(_.read(spark, p).collect().map(_.toString).sorted.toSeq)
      val folded = snap(prefix)
      assert(folded == snap(rb), s"schedule $s (${ops.mkString(",")}): fold != rebuild")

      // ---- invariant 3: vacuum removes only the killed stages ----------
      Dedup.LayoutTables.foreach { t =>
        val removed = Versioned.vacuum(spark, t.path(spark, prefix), minAgeMs = 0)
        assert(removed == killedCompacts(t.suffix),
          s"schedule $s (${ops.mkString(",")}): vacuum of ${t.suffix} removed " +
            s"$removed directories, ${killedCompacts(t.suffix)} compactions were killed")
      }
      assert(snap(prefix) == folded,
        s"schedule $s (${ops.mkString(",")}): vacuum changed the layout's rows")
      (layoutTables(prefix) ++ layoutTables(rb))
        .foreach(t => graft.Ddl.dropManagedTable(spark, t))
      slices.foreach(graft.unpersistCheckpoint)
      slices.clear()
    }
  }
}
