package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants over GENERATED inputs (ScalaCheck Gen with
  * fixed seeds — deterministic run-to-run, no flaky CI surface). The
  * planted-fixture specs pin behavior on the shipped corpus; these pin
  * it on adversarially random shapes the corpus doesn't contain (odd
  * lengths, tie storms, skew, boundary insertions). Each property
  * evaluates as ONE Spark job over a generated frame, not a job per
  * case — scalacheck generates the data, Spark checks the invariant
  * column-wise. */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  test("chunking tiles any word count exactly: chunk i holds min(32, nw - 24i) tokens") {
    val nws = sample(Gen.chooseNum(1, 200), 300, seed = 11L)
    val docs = nws.zipWithIndex
      .map { case (nw, id) => (id.toLong, (1 to nw).map(j => s"t$j").mkString(" ")) }
      .toDF("doc_id", "text")
    val bad = operators.Chunking.chunked(docs)
      .join(nws.zipWithIndex.map { case (nw, id) => (id.toLong, nw.toLong) }
        .toDF("doc_id", "nw"), "doc_id")
      .filter(col("start_word") =!= col("chunk_idx") * 24 ||
        col("n_tokens") =!= least(lit(32L), col("nw") - col("chunk_idx") * 24))
      .count()
    assert(bad == 0, s"$bad chunks off the stride/clamp grid")
    // Chunk count is ⌈nw/24⌉ for every generated length, incl. nw < 32.
    val counts = operators.Chunking.chunked(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(nws.zipWithIndex.map { case (nw, id) => (id.toLong, nw.toLong) }
        .toDF("doc_id", "nw"), "doc_id")
      .filter(col("n_chunks") =!= floor((col("nw") - 1) / 24) + 1)
      .count()
    assert(counts == 0)
  }

  test("winnowing guarantee holds on random docs with planted 7-token shared runs") {
    // Random token soup from a 30-word vocab (natural repeats included),
    // with doc B receiving a random 7-token slice of doc A at a random
    // insertion point — every generated pair MUST share a fingerprint.
    val vocab = (0 until 30).map(i => s"w$i")
    val docGen = for {
      n <- Gen.chooseNum(20, 80)
      ts <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ts
    val pairGen = for {
      a <- docGen
      b <- docGen
      runStart <- Gen.chooseNum(0, a.length - 7)
      insAt <- Gen.chooseNum(0, b.length)
    } yield (a, b.take(insAt) ++ a.slice(runStart, runStart + 7) ++ b.drop(insAt))
    val pairs = sample(pairGen, 150, seed = 23L)
    val docs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    val fp = operators.Dedup.winnowSelect(docs)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val sharing = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") &&
          col("x.doc_id") + 1 === col("y.doc_id") &&
          col("x.doc_id") % 2 === 0)
      .select((col("x.doc_id") / 2).cast("long").as("pair")).distinct().count()
    assert(sharing == pairs.size,
      s"only $sharing of ${pairs.size} planted-run pairs share a fingerprint")
  }

  test("GroupedTopK equals the window-rank truth under tie storms") {
    // Scores drawn from 4 values force heavy ties; the (score desc,
    // id asc) order must resolve them identically in the custom operator
    // and the window form, for every generated group size.
    val rowGen = for {
      grp <- Gen.chooseNum(0, 12)
      score <- Gen.oneOf(0.0, 1.0, 2.0, 3.0)
    } yield (grp, score)
    val rows = sample(rowGen, 800, seed = 37L).zipWithIndex
      .map { case ((g, s), id) => (g, s, id.toLong) }
    val df = rows.toDF("grp", "score", "id")
    val got = org.apache.spark.sql.graft.GroupedTopKApi
      .topKPerGroup(df, Seq("grp"), Seq("score" -> true, "id" -> false), 3)
      .select("grp", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("grp", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == want,
      s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("saltedCount equals plain groupBy count under generated skew") {
    // 10:3:1 frequency skew — the shape the salt exists for.
    val keyGen = Gen.frequency(
      (10, Gen.const(0L)), (3, Gen.const(1L)), (1, Gen.chooseNum(2L, 20L)))
    val keys = sample(keyGen, 2000, seed = 41L).toDF("k")
    val got = operators.Skew.saltedCount(keys, col("k"), buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = keys.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("bloom prefilter never false-negatives on generated members") {
    val members = sample(Gen.chooseNum(Long.MinValue, Long.MaxValue), 500, seed = 53L)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(500, 0.01)
    members.foreach(bf.putLong)
    val missed = members.toDF("v")
      .filter(!org.apache.spark.sql.graft.BloomExpressions
        .mightContainLong(col("v"), bf))
      .count()
    assert(missed == 0, s"$missed true members rejected — false negatives")
  }

  test("PassJoin equals all-pairs DP on random 2-letter strings with planted edits") {
    // The harshest regime for segment blocking: a 2-letter alphabet
    // makes segments collide constantly (candidate storms) while short
    // strings exercise the tiny stratum, empty-segment filters and the
    // multi-match window bounds all at once. Truth is a driver-side DP
    // over ALL pairs; the operator must equal it exactly — pair set AND
    // distances — so both losslessness (nothing missed) and soundness
    // (nothing invented, thresholded DP correct) are pinned together.
    val k = 3
    val strGen = for {
      n <- Gen.chooseNum(1, 20)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    val bases = sample(strGen, 120, seed = 93L)
    // Planted near-duplicates: j ≤ k+1 random edits (insert/delete/sub)
    // — j = k+1 plants pairs just OUTSIDE the threshold too.
    val editGen = Gen.chooseNum(0, 2)
    val edited = bases.zipWithIndex.map { case (s, i) =>
      var t = s
      val nEdits = (i % (k + 2))
      for (e <- 0 until nEdits) {
        val pos = math.abs((i * 31 + e * 7) % (t.length + 1))
        val op = sample(editGen, 1, seed = i * 1000L + e).head
        t = op match {
          case 0 => t.substring(0, pos) + "a" + t.substring(pos) // insert
          case 1 if t.nonEmpty => val p = math.min(pos, t.length - 1)
            t.substring(0, p) + t.substring(p + 1) // delete
          case _ if t.nonEmpty => val p = math.min(pos, t.length - 1)
            t.substring(0, p) + (if (t(p) == 'a') "b" else "a") + t.substring(p + 1)
          case _ => t + "b"
        }
      }
      t
    }
    val all = (bases ++ edited).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.filter(_._2.nonEmpty)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val truth = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      dist = lev(sa, sb) if dist <= k
    } yield (ia, ib, dist.toLong)).toSet
    val got = operators.Dedup.passJoinPairs(all.toDF("doc_id", "text"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth,
      s"missed=${(truth -- got).take(5)} invented=${(got -- truth).take(5)} " +
        s"(truth=${truth.size}, got=${got.size})")
  }

  test("span excision drops exactly the planted duplicated spans, nothing else") {
    // Globally-unique filler words make the duplicated-gram set fully
    // predictable: only grams INSIDE a planted shared span (length ≥ 5)
    // repeat, so excision must drop exactly the planted span's words —
    // boundary grams mix unique fillers and occur once, 4-word plants
    // sit below the gram width, and a within-doc double plant must
    // excise BOTH occurrences.
    val lenGen = Gen.chooseNum(10, 30)
    val spanLenGen = Gen.chooseNum(5, 9)
    case class Doc(id: Long, words: Vector[String], planted: Set[Int])
    var docs = Vector.empty[Doc]
    var id = 0L
    def fillers(n: Int): Vector[String] = {
      val base = id
      (0 until n).map(j => s"u${base}_$j").toVector
    }
    // 15 cross-doc pairs sharing a span at random offsets.
    for (p <- 0 until 15) {
      val sl = sample(spanLenGen, 1, seed = 500L + p).head
      val span = (0 until sl).map(j => s"s${p}_$j").toVector
      for (_ <- 0 until 2) {
        val n = sample(lenGen, 1, seed = 900L + id).head
        val w = fillers(n)
        val off = (id * 13 % (n - sl + 1)).toInt
        docs :+= Doc(id, w.patch(off, span, sl), (off until off + sl).toSet)
        id += 1
      }
    }
    // 5 docs with the same span planted twice INTERNALLY.
    for (p <- 0 until 5) {
      val sl = sample(spanLenGen, 1, seed = 700L + p).head
      val span = (0 until sl).map(j => s"r${p}_$j").toVector
      val w = fillers(30)
      val off2 = 15 + (p % (30 - sl - 14))
      val planted = w.patch(0, span, sl).patch(off2, span, sl)
      docs :+= Doc(id, planted, (0 until sl).toSet ++ (off2 until off2 + sl).toSet)
      id += 1
    }
    // 5 pairs sharing only a 4-word span — BELOW the gram width, kept.
    for (p <- 0 until 5) {
      val span = (0 until 4).map(j => s"k${p}_$j").toVector
      for (_ <- 0 until 2) {
        val w = fillers(20)
        docs :+= Doc(id, w.patch(8, span, 4), Set.empty)
        id += 1
      }
    }
    // 20 plain unique docs — untouched.
    for (_ <- 0 until 20) {
      val n = sample(lenGen, 1, seed = 1300L + id).head
      docs :+= Doc(id, fillers(n), Set.empty)
      id += 1
    }
    val df = docs.map(d => (d.id, d.words.mkString(" "))).toDF("doc_id", "text")
    val out = operators.Dedup.exciseSpans(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    for (d <- docs) {
      val (clean, kept, dropped) = out(d.id)
      val expect = d.words.zipWithIndex.collect {
        case (w, j) if !d.planted(j) => w
      }.mkString(" ")
      assert(clean == expect, s"doc ${d.id}: got '$clean' want '$expect'")
      assert(dropped == d.planted.size.toLong && kept == d.words.size - d.planted.size)
    }
  }

  test("SPFHP solves any generated histogram: exact cover, capacity, tight tail") {
    // Driver-only property (the solver is the one piece the oracle
    // can't check): random histograms over random length supports,
    // including lengths equal to L, 1, and clustered near L/2 where
    // pairing decisions are hardest.
    val L = 128
    val histGen = for {
      nLens <- Gen.chooseNum(1, 40)
      lens <- Gen.listOfN(nLens, Gen.chooseNum(1, L))
      counts <- Gen.listOfN(nLens, Gen.chooseNum(1L, 5000L))
    } yield lens.zip(counts).groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum }
    for ((hist, i) <- sample(histGen, 60, seed = 47L).zipWithIndex) {
      val pats = operators.Pipeline.spfhp(hist, L)
      assert(pats.forall(_._1.sum <= L), s"case $i: overfull pack")
      assert(pats.forall(_._2 > 0), s"case $i: empty pattern group")
      // exact cover (also require()d inside — this asserts the public view)
      val covered = pats.flatMap { case (p, n) => p.map(_ -> n) }
        .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum }
      assert(covered == hist, s"case $i: cover mismatch")
      // SPFHP's structural quality guarantee: at most ONE pack ends at
      // most half-full. (Any second light pack's first length would
      // have fit the first light pack's ≥ L/2 residual — greedy
      // admission makes two final light packs impossible.)
      assert(pats.filter(_._1.sum <= L / 2).map(_._2).sum <= 1,
        s"case $i: two half-empty packs — greedy admission broken")
      // Allocation unroll stays consistent on every generated case, and
      // pack-id blocks tile 0..totalPacks exactly.
      val alloc = operators.Pipeline.spfhpAlloc(hist, L)
      val byLen = alloc.groupBy(_._1).map { case (l, g) => l -> g.map(_._5).sum }
      assert(byLen == hist, s"case $i: allocation cover mismatch")
      val packTotal = pats.map(_._2).sum
      assert(alloc.map(r => r._6 + r._5).max <= packTotal, s"case $i: pack ids overflow")
    }
  }

  test("minLabelPropagation: adaptive chase is a pure accelerator — labels identical across triggers") {
    // r10's pointer doubling (made ADAPTIVE in r11: the chase fires only
    // after round `chaseAfter` rounds that still moved labels) must
    // change ROUNDS, never RESULTS: on adversarially random graphs
    // (long chains force many plain rounds; a chase bug would surface
    // as split or merged components) every trigger setting yields the
    // same (node, label=component-min) table. Levels cover the whole
    // trigger range: 0 = chase from round 1, 1 and 2 = mid-loop
    // activation (the shipped default), Int.MaxValue = the chase-free
    // plain loop (the r9 reference semantics).
    // Graph: 3 long chains + random cross edges inside each third, so
    // components are nontrivial and diameters exceed the chase reach.
    val n = 120
    val chains = (0 until 3).flatMap { c =>
      val ids = (0 until n / 3).map(i => (c * 1000 + i * 7).toLong) // sparse ids: min ≠ first
      ids.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val extras = sample(Gen.zip(Gen.chooseNum(0, n / 3 - 1), Gen.chooseNum(0, n / 3 - 1)), 30, seed = 97L)
      .zipWithIndex.map { case ((a, b), i) =>
        val c = i % 3; ((c * 1000 + a * 7).toLong, (c * 1000 + b * 7).toLong) }
      .filter { case (a, b) => a != b }
    val edges = (chains ++ extras).toDF("a_id", "b_id")
    val ref = operators.Graph.minLabelPropagation(edges, maxIter = 200,
        chaseAfter = Int.MaxValue) // never triggers: pure one-hop propagation
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    for (ch <- Seq(0, 1, 2)) {
      val got = operators.Graph.minLabelPropagation(edges, maxIter = 200, chaseAfter = ch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == ref, s"chaseAfter=$ch labels diverge from the chase-free loop")
    }
    // And the labels really are component minima: each chain third is one
    // component (the chain spans it), so exactly 3 labels, each the min id.
    assert(ref.map(_._2).distinct.sorted == Seq(0L, 1000L, 2000L))
  }

  test("unroll equals the uncut fold and cuts lazily every cutEvery rounds and after the last") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    // Each step adds exactly one Project, so the Projects above a state's
    // LogicalRDD leaf are the step applications since its last cut.
    def steps(p: LogicalPlan): Int = p match {
      case Project(_, child) => 1 + steps(child)
      case _: LogicalRDD => 0
      case other => fail(s"unexpected node above the cut: ${other.nodeName}")
    }
    def step(df: DataFrame, round: Int): DataFrame =
      df.select(((col("x") * 31 + round) % 1000003).as("x"))
    val init = sample(Gen.chooseNum(0L, 1000000L), 40, seed = 131L).toDF("x").localCheckpoint()
    for (cutEvery <- Seq(1, 2, 5); rounds <- Seq(1, 7, 10)) {
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      val (got, jobs) = org.apache.spark.graft.JobCounter(spark.sparkContext)(
        operators.Graph.unroll(init, rounds, cutEvery) { (state, round) =>
          seen += steps(state.queryExecution.analyzed)
          step(state, round)
        })
      val label = s"cutEvery=$cutEvery rounds=$rounds"
      assert(jobs == 0, s"$label: the loop ran $jobs job(s)")
      // Round r sees the steps since the last multiple of cutEvery, so no
      // state ever holds more than cutEvery of them; the result is cut.
      assert(seen == (1 to rounds).map(r => (r - 1) % cutEvery), label)
      assert(steps(got.queryExecution.analyzed) == 0, label)
      val ref = (1 to rounds).foldLeft(init)(step)
      assert(got.collect().map(_.getLong(0)).sorted.sameElements(
        ref.collect().map(_.getLong(0)).sorted), label)
    }
  }
}
