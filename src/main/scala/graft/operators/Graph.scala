package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Cut, Tables}

/** Graph analytics over the event stream — the iterative-join family.
  *
  * The reference has no graph surface; this is the training-data-pipeline
  * extension of its iterative executor loop (andb/executor/volcano.py runs
  * one plan at a time — here every iteration IS one declarative plan, and
  * the loop lives in the driver, the spark.ml/GraphX idiom).
  *
  * g01 is PageRank (Page et al. 1999, public algorithm) over the implicit
  * "interaction graph": within each event_type stream ordered by time, an
  * edge connects consecutive actors. g02 is triangle counting via
  * degree-ordering (Suri & Vassilvitskii 2011) — the orientation trick
  * that bounds every node's out-degree by O(√m), which is what keeps the
  * wedge join from exploding on hub nodes at scale. The PageRank loop
  * itself is generic over any weighted edge table ([[pageRankLoop]]) —
  * t20's TextRank runs the SAME loop over a word co-occurrence graph.
  *
  * Scale design, per PageRank iteration: ranks⋈edges is the ONLY
  * corpus-sized join, hash-partitioned on the join key; the dangling-mass
  * and node count are 1-row aggregates broadcast by crossJoin; lineage is
  * cut every iteration ([[unroll]] — without it Catalyst re-plans a
  * 10-deep join tree). On a
  * cluster the edge table is written ONCE bucketed by src (sources/Io
  * bucketing), so the per-iteration join shuffles only the rank side —
  * the same standing-layout argument AnnIndexSpec proves for the ANN
  * family.
  *
  * Float discipline: each iteration's rank is landed on a 1e-9 grid with
  * IDENTICAL expression order on both engines ([[graft-float-discipline]]
  * — the contribution sum is merge-order-dependent, the grid
  * re-synchronizes engines after every iteration, so ten iterations stay
  * bit-identical instead of compounding drift).
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val Iters = 10

  /** g05's fixed peel unroll — declared BEFORE `defs` (the oracle string
    * interpolates it eagerly at object construction; a later declaration
    * would read the default 0 under Scala's in-order val initialization). */
  private val KcoreRounds = 8

  /** g07's fixed power-iteration unroll — declared before `defs` for the
    * same eager-interpolation reason as [[KcoreRounds]]. */
  private val HitsIters = 8

  /** g13's fixed relaxation-round unroll — one constant for the Spark
    * loop and the oracle CTE chain, declared before `defs` like
    * [[KcoreRounds]]. */
  private val BfsRounds = 6

  /** g14's fixed synchronous-sweep unroll — one constant for the Spark
    * loop and the oracle CTE chain, declared before `defs` like
    * [[KcoreRounds]]. Four sweeps settle the event graph's co-activity
    * communities; the count is fixed (not run-to-convergence) because
    * synchronous LPA can 2-cycle on bipartite substructures — a fixed
    * unroll is deterministic AND oracle-replayable either way. */
  private val LpaRounds = 4

  /** The 1e-9 grid used by every iterative float algorithm in the graph
    * family (and v14's drift metric) — one definition so the grid
    * discipline can't drift between operators. */
  private[operators] def grid9(c: Column): Column =
    floor(c * 1000000000L + 0.5) / 1000000000L

  /** The fixed-round loop every unrolled DataFrame loop of the operator
    * families runs through: `step` applied `rounds` times to `init`,
    * given the state and the 1-based round. This is the one statement of
    * their lineage-cut policy:
    *   - the returned state is cut after every `cutEvery`-th round and
    *     after the last one, so a loop's plan stays constant-size instead
    *     of Catalyst re-planning a join tree as deep as the loop;
    *   - the cut is [[graft.Cut.cut]], so the loop itself runs no result
    *     job;
    *   - `cutEvery > 1` is safe only for a step that references its state
    *     once: lineage between cuts then grows linearly, not 2^depth;
    *   - nothing is unpersisted here, so the order of the lazy cuts and
    *     their consumers cannot matter.
    * Cuts inside a step (g05's `keep`) belong to that step. */
  private[graft] def unroll(init: DataFrame, rounds: Int, cutEvery: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, round) =>
      val next = step(state, round)
      if (round % cutEvery == 0 || round == rounds) next.cut
      else next
    }

  /** Temporal-proximity edges: consecutive distinct actors in each
    * event_type stream acting within `gapUs` of each other — ONE
    * definition of the proximity rule shared by g03 (communities) and
    * g10 (their conductance audit), so the tie/order/gap discipline
    * can't drift between the labeling and the audit of those labels.
    * [[proximityCte]] is its oracle twin. */
  private def proximityEdges(s: SparkSession, d: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("src", lag(col("user_id"), 1).over(w))
      .withColumn("src_ts", lag(col("ts_us"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("user_id")
        && col("ts_us") - col("src_ts") <= gapUs)
      .select(col("src").as("a_id"), col("user_id").as("b_id"))
      .distinct()
  }

  /** [[proximityEdges]] as DuckDB CTEs ending in `prox(a, b)` — expects
    * `ev` (from [[eventGraphBaseCte]]) to be in scope. */
  private def proximityCte(gapUs: Long): String =
    s"""lag2 AS MATERIALIZED (
       |  SELECT user_id, ts_us,
       |         lag(user_id) OVER (PARTITION BY event_type
       |                            ORDER BY ts_us ASC, event_id ASC) AS src,
       |         lag(ts_us) OVER (PARTITION BY event_type
       |                          ORDER BY ts_us ASC, event_id ASC) AS src_ts
       |  FROM ev),
       |prox AS MATERIALIZED (
       |  SELECT DISTINCT src AS a, user_id AS b FROM lag2
       |  WHERE src IS NOT NULL AND src <> user_id
       |    AND ts_us - src_ts <= $gapUs)""".stripMargin

  /** Directed interaction edges: consecutive distinct actors in each
    * event_type stream, ordered by (ts, event_id) — deterministic. */
  private[graft] def interactionEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("src", lag(col("user_id"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("user_id"))
      .select(col("src"), col("user_id").as("dst"))
      .distinct()
  }

  /** Weighted PageRank with damping 0.85, dangling mass redistributed
    * uniformly (the standard formulation), fixed iteration count for a
    * deterministic, oracle-replayable result. Generic over the node id
    * type: `nodes(id)`, `edges(src, dst, w: long)`. Contribution is
    * r·w/Σw — with unit weights this is bit-identical to the unweighted
    * form (r·1.0 ≡ r in IEEE754). */
  /** `dangling = false` is the bit-exact fast path for graphs where
    * EVERY node has out-weight (symmetric edge lists — t20's
    * co-occurrence graph): the dangling sum is then an empty aggregate,
    * coalesced to 0.0, and `cin + 0.0/n ≡ cin` in IEEE754 (cin ≥ +0.0
    * always — a sum of non-negative contributions), so skipping the
    * anti-join + global agg + crossJoin per iteration changes NOTHING in
    * the result — only the per-iteration fixed cost. It also makes each
    * iteration reference the previous ranks ONCE (the dangling term was
    * the second reference), which is what makes `cutEvery > 1` safe
    * ([[unroll]]). Dangling graphs cut every round whatever `cutEvery`
    * says (two references per iteration). */
  private[graft] def pageRankLoop(
      nodes: DataFrame, edges: DataFrame, iters: Int,
      dangling: Boolean = true, cutEvery: Int = 1): DataFrame = {
    val nodesC = nodes.cut
    val edgesC = edges.cut
    val deg = edgesC.groupBy(col("src")).agg(sum(col("w")).as("wdeg")).cut
    // deg is loop-invariant — join it into the edge list ONCE instead of
    // re-paying an edges⋈deg shuffle inside every iteration (per-row
    // values are untouched; only where the join happens moves).
    val edgesW = edgesC.join(deg, "src").cut
    // r15 (commit 0b0bd51): the loop family is scheduler-latency bound
    // at gate SF (SF-invariant fixed cost, r14 adjudication), and two
    // of the per-iteration jobs were LOOP-INVARIANT work re-planned
    // every round: (a) the node-count aggregate + its crossJoin
    // broadcast — n never changes, so it is counted ONCE on the cut
    // node table and folded in as a literal
    // (ConstantFolding evaluates 0.15/n with the identical IEEE
    // division the per-row form used — bit-identical by construction);
    // (b) the dangling-mass ANTI-JOIN against deg — whether a node has
    // out-weight never changes, so the flag is attached to the node
    // table once and the per-iteration dangling mass becomes a
    // filter+sum over the checkpointed ranks, no join at all. Values
    // are gated by the r15 oracle parity (CORRECTNESS_r15.json /
    // VERIFY_r15.json: g01 and t20 hash-exact against DuckDB).
    val nVal = nodesC.count().toDouble
    val nodesD =
      if (dangling)
        nodesC.join(deg.select(col("src").as("id"), lit(true).as("has_out")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("has_out"), lit(false)).as("has_out"))
          .cut
      else nodesC
    val ranks0 =
      if (dangling)
        nodesD.select(col("id"), (lit(1.0) / lit(nVal)).as("r"), col("has_out"))
          .cut
      else
        nodesD.select(col("id"), (lit(1.0) / lit(nVal)).as("r")).cut
    unroll(ranks0, iters, if (dangling) 1 else cutEvery) { (ranks, _) =>
      val contribs = edgesW
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .groupBy(col("dst")).agg(sum(col("r") * col("w") / col("wdeg")).as("cin"))
      if (dangling) {
        val dang = ranks.filter(!col("has_out"))
          .agg(coalesce(sum(col("r")), lit(0.0)).as("dang"))
        nodesD.crossJoin(dang)
          .join(contribs, col("id") === col("dst"), "left")
          .select(col("id"),
            grid9(lit(0.15) / lit(nVal) +
              lit(0.85) * (coalesce(col("cin"), lit(0.0)) + col("dang") / lit(nVal))).as("r"),
            col("has_out"))
      } else {
        nodesD
          .join(contribs, col("id") === col("dst"), "left")
          .select(col("id"),
            grid9(lit(0.15) / lit(nVal) +
              lit(0.85) * coalesce(col("cin"), lit(0.0))).as("r"))
      }
    }.select(col("id"), col("r"))
  }

  /** The per-iteration (contrib, dangling, rank) CTE triples of
    * [[pageRankLoop]] for a DuckDB oracle, every float expression in the
    * same op order, gridded per iteration. The host query must define
    * `edges(src, dst, w)`, `nodes(id)`, `deg(src, wdeg)`, `nn(n)` and
    * `r0(id, r)` CTEs before splicing these in. Every CTE is
    * MATERIALIZED: each r$i is referenced twice by iteration i+1, and
    * DuckDB's default CTE INLINING would copy the whole chain per
    * reference — 2^iters plan blowup. */
  private[graft] def pageRankOracleSteps(iters: Int): String =
    (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst, sum(r.r * e.w / d.wdeg) AS cin
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN r${i - 1} r ON r.id = e.src GROUP BY 1),
         |g$i AS MATERIALIZED (
         |  SELECT coalesce(sum(r.r), CAST(0 AS DOUBLE)) AS dang
         |  FROM r${i - 1} r LEFT JOIN deg d ON r.id = d.src
         |  WHERE d.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nd.id,
         |         FLOOR((CAST(0.15 AS DOUBLE) / nn.n
         |                + CAST(0.85 AS DOUBLE) * (coalesce(c.cin, CAST(0 AS DOUBLE))
         |                                          + g.dang / nn.n))
         |               * 1000000000 + 0.5) / 1000000000 AS r
         |  FROM nodes nd CROSS JOIN nn CROSS JOIN g$i g
         |  LEFT JOIN c$i c ON nd.id = c.dst)""".stripMargin
    }.mkString(",\n")

  /** Generic min-label-propagation connected components over an
    * undirected edge list `(a_id, b_id)`: one join + one aggregate per
    * round, lineage cuts, scalar-only fixpoint checks
    * on the driver — ONE machinery for near-dup document groups
    * (d06/d09 via Dedup.ccLabels) and event-graph communities
    * (g03/g10/g12).
    *
    * Pointer doubling is ADAPTIVE (r11, was a static per-callsite
    * `chase` constant in r10): plain propagation advances the component
    * min ONE hop per round (rounds = diameter), so after any round ≥
    * `chaseAfter` that still moved labels, a pointer-doubling fixup —
    * L(u) ← min(L(u), L(L(u))) twice, on the one-row-per-node LABEL
    * table only — composes the label map with itself so reach
    * MULTIPLIES and deep components converge in O(log diameter)
    * rounds. Shallow graphs (near-dup cliques, small-SF corpora:
    * diameter ≤ chaseAfter) converge before the trigger and never pay
    * the chase joins — this removes the measured sf0.1 premium the r10
    * static chase=2 charged g03/g10/g12 (+0.6–0.8 s each) while
    * keeping g03's 12-round → ~4-round sf1.0 collapse (BASELINE.md
    * r10/r11 tables). One code path, no per-callsite constants.
    *
    * Correctness: the round exit tests the PLAIN step only (label vs
    * pre-step label; the chase runs after the count, as its own tiny
    * jobs). That test is sufficient — if no neighbor min beats any
    * label then for every edge (u,v) both L(v) ≤ L(u) and L(u) ≤ L(v),
    * so labels are constant per component; and the constant must be
    * the component min m, since L(m) ≤ m by init and monotonicity
    * while every label is a member id ≥ m. The chase never invents
    * labels (L(L(u)) is some member's label, updates stay monotone
    * non-increasing and bounded below by m), so it only accelerates —
    * PropertySpec pins label-identity across chaseAfter ∈
    * {always, default, never}. */
  /** Default adaptive-chase trigger round (see [[minLabelPropagation]]):
    * 2 is the measured sweet spot (BASELINE.md "Round 11: adaptive
    * chase — the A/B table, trigger kept at 2"). */
  private val DefaultChaseAfter: Int = 2

  private[graft] def minLabelPropagation(
      edges: DataFrame, maxIter: Int = 50,
      chaseAfter: Int = DefaultChaseAfter): DataFrame = {
    val e = edges.select(col("a_id"), col("b_id")).cut
    val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    var labels = sym.groupBy(col("a_id"))
      .agg(min(col("b_id")).as("mn"))
      .select(col("a_id").as("doc_id"), least(col("a_id"), col("mn")).as("label"))
      .cut
    var changed = 1L
    var iter = 0
    // Label tables a chase superseded: freed with `labels` after the
    // next round's count, the first action that reads the chase's cut.
    var superseded = Seq.empty[DataFrame]
    while (changed > 0 && iter < maxIter) {
      val nbr = sym.join(labels, sym("b_id") === labels("doc_id"))
        .groupBy(col("a_id")).agg(min(col("label")).as("nbr_min"))
      // Carry the previous label through the update so the fixpoint check
      // is a narrow filter-count over the cut — not another join
      // (which would re-shuffle the label table every round).
      val step = labels.join(nbr, labels("doc_id") === nbr("a_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          col("label").as("old"))
      val next = step.cut // loop state
      changed = next.filter(col("label") =!= col("old")).count()
      // Each round supersedes the previous round's table — without
      // freeing it a deep graph caches one (or, with the chase, two) full
      // label tables PER ROUND, linear memory growth the fixpoint never
      // reads again. Safe only now: the count has read `next`, so its
      // blocks (and those of the chase's cut it read) exist and no plan
      // still to run recomputes through the freed ones. Freeing right
      // after the chase would drop the blocks its cut has yet to read.
      (labels +: superseded).foreach(graft.unpersistCheckpoint)
      superseded = Nil
      labels = next.select(col("doc_id"), col("label"))
      iter += 1
      if (changed > 0 && iter >= chaseAfter) {
        // Still moving past the trigger round: pointer-double before the
        // next edge join. L(L(u)) is the label table joined with itself
        // on label = doc_id — a label is always SOME node's id in the
        // same component, so the lookup hits unless that node kept its
        // own id (left + coalesce). Two doublings quadruple reach. This
        // runs OUTSIDE the plain step's changed count (see Scaladoc:
        // plain no-change alone certifies the fixpoint), so a converging
        // graph's final detect round never pays these joins.
        var chased = labels
        for (_ <- 1 to 2) {
          val lk = chased.select(col("doc_id").as("k"), col("label").as("lv"))
          chased = chased.join(lk, chased("label") === lk("k"), "left")
            .select(col("doc_id"),
              least(col("label"), coalesce(col("lv"), col("label"))).as("label"))
        }
        superseded = Seq(labels) // next's table, superseded by the chase
        labels = chased.cut
      }
    }
    // Propagation advances min labels ONE HOP per round, so a component
    // whose diameter exceeds maxIter would exit UNCONVERGED — and
    // unconverged labels are silently WRONG (one community reported as
    // several). Near-dup components are cliques/short chains (2-3
    // rounds), but g03's temporal chains have no such bound: fail loudly
    // rather than return wrong components.
    require(changed == 0,
      s"minLabelPropagation did not converge in $maxIter rounds " +
        s"($changed labels still moving) — a component's diameter exceeds " +
        "the cap; raise maxIter")
    labels
  }

  /** Undirected dedup + degree table + degree-ordered orientation over
    * [[interactionEdges]] — the Suri & Vassilvitskii machinery shared by
    * g02 (triangle census) and g04 (clustering coefficients), ONE
    * definition so the orientation rule can't drift between the two.
    * Returns (und(u,v), deg(x,dg), dir(a,b)) — all cut
    * (each feeds ≥2 downstream joins; without the cut Catalyst re-plans
    * the whole lag-window extraction per consumer). */
  private def orientedEdges(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val und = undirectedEdges(s, d)
    val deg = degreesOf(und)
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val dir = und
      .join(deg.select(col("x").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
              when(lower, col("v")).otherwise(col("u")).as("b"))
      .cut
    (und, deg, dir)
  }

  /** Undirected distinct edge set (u < v) — ONE definition of the
    * undirected-dedup rule, shared by [[orientedEdges]] (g02/g04) and
    * g05's peel so a future change (e.g. a self-loop filter) can't
    * drift between consumers. Cut: every caller feeds it
    * to ≥2 downstream joins. */
  private def undirectedEdges(s: SparkSession, d: String): DataFrame =
    interactionEdges(s, d)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct().cut

  /** Undirected degrees `deg(x, dg)` of an `und(u, v)` edge frame — the
    * one definition of the degree rule, shared by [[orientedEdges]]
    * (g02/g04) and g08's histogram. g08 takes this directly rather than
    * calling orientedEdges: the tuple form's `dir` cut would run the
    * shuffle stages of a double join g08 never reads ([[graft.Cut]]). */
  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("x")).union(und.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dg")).cut

  /** g09 core with the HUB CAP promoted to a parameter — the knob that
    * bounds the co-neighbor pair work (Σ_w deg(w)² over kept nodes) the
    * way d04's GramDfCap bounds gram-pair work. The cap is DECLARED
    * semantics: the result is exact on the degree-≤cap subgraph.
    *
    * Measured cost knee (scale-smoke corpus = 40 replica copies of the
    * sf0.1 interaction graph, local[8], warm first-count — BASELINE.md
    * "Round 6: g09 hub-cap sweep"):
    * {{{
    *   capDeg   co-neighbor pairs   wall (count)
    *     128        13.4M              49 s
    *     256        45.0M            ~160-220 s
    *     512        45.0M            (= 256: max degree here is 185)
    * }}}
    * Pair work IS the cost: 3.4× more pairs from 128→256 costs ~3-4×
    * the wall, and the sweep saturates once the cap clears the graph's
    * max degree — above that the cap changes nothing, below it the cap
    * bounds Σ_w deg(w)² directly. On the power-law graphs the operator
    * targets (max degree ≫ cap), the cap is therefore the whole cost
    * model, exactly like d04's GramDfCap. */
  private[graft] def neighborJaccard(s: SparkSession, d: String,
      capDeg: Long = 256L, minJac: Double = 0.5): DataFrame = {
    val und = undirectedEdges(s, d)
    val deg = degreesOf(und)
    val keep = deg.filter(col("dg") <= capDeg)
      .select(col("x"), col("dg")).cut
    // adjacency of the capped subgraph: BOTH endpoints must survive
    val adj = und
      .join(keep.select(col("x").as("u")), "u")
      .join(keep.select(col("x").as("v")), "v")
      .select(col("u"), col("v"))
      .cut
    // capped-subgraph degrees (≠ deg: a kept node may lose capped
    // neighbors), one node-keyed aggregate. It feeds both the deg_a and
    // deg_b joins; materializing it once was A/B-measured a WASH inside
    // noise (OPTIMIZATION_r14.md §6: ckpt min/median 5.16/6.30 vs
    // 5.58/6.17 at sf0.1), so it stays unmaterialized — the duplicate
    // aggregate rides a reused exchange and is node-sized.
    val cdeg = adj.select(col("u").as("x"))
      .union(adj.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("cd"))
    // r15 (commit 0b0bd51): the r11 stage attribution pinned the PAIR
    // ENUMERATION + AGGREGATE as g09's dominant cost — and it never
    // parallelized (8→32 core ratio 0.95): the checkpointed adjacency
    // holds the 1–2 partitions AQE coalesced its parent exchange to at
    // gate SF, so the Σ_w C(d_w,2) candidate stream (12.25M rows from a
    // 191k-row incidence at sf0.1) and its partial aggregate ran on 1–2
    // cores. The fix is partitioning, not a smaller stream:
    // re-establish hash partitioning on w at the session's shuffle
    // parallelism (scale-adaptive — the conf the cluster sizes, not a
    // local constant) so the self-join and the partial aggregate fan
    // out (5.38 → 1.53 s at sf0.1, VERDICT.md r15). At 100 TB the plan
    // is unchanged (the SMJ needs this exact exchange anyway and reuses
    // it for both sides); at gate SF it undoes the 1-partition collapse.
    //
    // A lossless DEGREE-ratio prefilter (jac ≤ min(cd)/max(cd)) was also
    // measured in r15 and rejected: value-identical at sf0.01 but SLOWER
    // at sf0.1 (min 6.17 vs 5.40 s — the attach join + wider incidence
    // rows cost more than the filter saves on this degree-homogeneous
    // graph; VERDICT.md r15).
    val np = s.sessionState.conf.numShufflePartitions
    // co-neighbor pairs via shared neighbor w: (w,a) ⋈ (w,b), a<b
    val inc = adj.select(col("u").as("w"), col("v").as("n"))
      .union(adj.select(col("v").as("w"), col("u").as("n")))
      .repartition(np, col("w"))
    val pairs = inc.as("l").join(inc.as("r"),
        col("l.w") === col("r.w") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("a_id"), col("r.n").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cdeg.select(col("x").as("a_id"), col("cd").as("deg_a")), "a_id")
      .join(cdeg.select(col("x").as("b_id"), col("cd").as("deg_b")), "b_id")
      .withColumn("jac", grid9(col("inter").cast("double")
        / (col("deg_a") + col("deg_b") - col("inter"))))
      .filter(col("jac") >= minJac)
      .select(col("a_id"), col("b_id"), col("inter"),
        col("deg_a"), col("deg_b"), col("jac"))
  }

  /** The oracle twin of [[undirectedEdges]]: `und(u, v)` from `edges0`. */
  private val undirectedCte: String =
    """und AS MATERIALIZED (
      |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      |  FROM edges0)""".stripMargin

  /** The oracle twin of [[degreesOf]]: `dg0(x, dg)` from `und` — ONE
    * definition of the undirected degree rule shared by the g08/g09/
    * g11/g12 oracles (the oracleCcComponents anti-drift discipline). */
  private val degreeCte: String =
    """dg0 AS MATERIALIZED (
      |                SELECT x, CAST(count(*) AS BIGINT) AS dg
      |                FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
      |                GROUP BY 1)""".stripMargin

  /** The und/deg/dir CTEs of [[orientedEdges]] for the DuckDB oracles —
    * spliced after [[eventGraphBaseCte]] by g02 and g04. */
  private val orientedEdgesCte: String =
    s"""$undirectedCte,
      |deg AS MATERIALIZED (
      |  SELECT x, CAST(count(*) AS BIGINT) AS dg
      |  FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
      |  GROUP BY 1),
      |dir AS MATERIALIZED (
      |  SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
      |              THEN u ELSE v END AS a,
      |         CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
      |              THEN v ELSE u END AS b
      |  FROM und JOIN deg du ON du.x = und.u JOIN deg dv ON dv.x = und.v)""".stripMargin

  /** The interaction-graph extraction as DuckDB CTEs ending in
    * `edges0(src, dst)` — ONE definition of "the graph" shared by g01's
    * and g02's oracles (the twin of [[interactionEdges]]). */
  private val eventGraphBaseCte: String =
    """ev AS MATERIALIZED (
      |  SELECT event_type, user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
      |  FROM events),
      |lagged AS MATERIALIZED (
      |  SELECT user_id,
      |         lag(user_id) OVER (PARTITION BY event_type
      |                            ORDER BY ts_us ASC, event_id ASC) AS src
      |  FROM ev),
      |edges0 AS MATERIALIZED (
      |  SELECT DISTINCT src, user_id AS dst FROM lagged
      |  WHERE src IS NOT NULL AND src <> user_id)""".stripMargin

  /** g01's oracle: the event-graph base CTEs + the generic steps. */
  private def pageRankOracle(iters: Int): String = {
    val head =
      s"""WITH $eventGraphBaseCte,
         |edges AS MATERIALIZED (
         |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges0),
         |nodes AS MATERIALIZED (SELECT DISTINCT user_id AS id FROM ev),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS r FROM nodes, nn)""".stripMargin
    head + ",\n" + pageRankOracleSteps(iters) +
      s"\nSELECT id AS user_id, r AS rank FROM r$iters"
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("g01_pagerank",
      (s, d) => {
        val nodes = Tables.events(s, d).select(col("user_id").as("id")).distinct()
        val edges = interactionEdges(s, d).withColumn("w", lit(1L))
        pageRankLoop(nodes, edges, Iters)
          .select(col("id").as("user_id"), col("r").as("rank"))
      },
      Some(pageRankOracle(Iters))),

    // ---- g02: triangle counting via degree-ordering --------------------
    // The clustering-structure census (community density, spam/bot motif
    // detection). Naive wedge enumeration explodes on hubs (a degree-10⁶
    // node emits 10¹² wedges); orienting every undirected edge from its
    // LOWER (degree, id) endpoint to the higher caps each node's
    // out-degree at O(√m) (Suri & Vassilvitskii 2011) — every triangle
    // is counted exactly once, from its smallest vertex, and the wedge
    // join's fan-out is bounded no matter how skewed the graph. Two
    // equi-joins + integer counts: fully exact.
    ("g02_triangle_count",
      (s, d) => {
        val (und, deg, dir) = orientedEdges(s, d)
        val wedges = dir
          .join(dir.select(col("a").as("b"), col("b").as("c")), "b")
          .select(col("a"), col("c"))
        val tri = wedges
          .join(dir.select(col("a"), col("b").as("c")), Seq("a", "c"))
          .agg(count(lit(1)).as("n_triangles"))
        deg.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(und.agg(count(lit(1)).as("n_edges")))
          .crossJoin(tri)
      },
      Some(s"""WITH $eventGraphBaseCte,
              $orientedEdgesCte,
              tri AS MATERIALIZED (
                SELECT CAST(count(*) AS BIGINT) AS n_triangles
                FROM dir e1
                JOIN dir e2 ON e2.a = e1.b
                JOIN dir e3 ON e3.a = e1.a AND e3.b = e2.b)
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
                     (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                     (SELECT n_triangles FROM tri) AS n_triangles""")),

    // ---- g03: temporal-proximity communities (connected components) ----
    // Who acts TOGETHER: an edge connects consecutive actors in the same
    // event_type stream only when they act within 5 minutes — the gap
    // rule breaks the chain where activity pauses, so the stream
    // decomposes into co-activity components instead of one giant chain.
    // Labeling is the adaptively chase-accelerated generic loop
    // ([[minLabelPropagation]]). r10 adjudication of the r9
    // verdict's prescription (port the oracle's segment factoring into
    // the operator): BOTH segment-incidence forms were built and
    // measured at sf1.0 — the factoring does NOT help the OPERATOR,
    // because the pair-edge set is already linear in events (884k
    // edges vs 984k incidence rows; the Θ(Σ comp²) blowup the oracle
    // dodges lives only in its recursive closure). The measured round
    // killer is ROUND COUNT (12 = component diameter at sf1.0), fixed
    // by pointer doubling: 12 → 3 rounds, full table in BASELINE.md
    // r10. Users with no proximity edge belong to no component
    // (mirrored by the oracle's closure over edge endpoints). Output:
    // one row per component with its size (the label IS the
    // component's min user id).
    ("g03_components",
      (s, d) => {
        minLabelPropagation(proximityEdges(s, d, 300L * 1000000L))
          .groupBy(col("label").as("component"))
          .agg(count(lit(1)).as("n_users"))
      },
      // Oracle re-derivation via SEGMENT FACTORING + unrolled min-label
      // (r8): the naive user-pair closure is Θ(Σ comp²) — one giant
      // component forms at sf1.0, 225M reach pairs — and even the
      // contracted segment GRAPH is dense (66 segments/user ⇒ ~50M
      // segment-pair edges). But proximity edges never cross a >gap
      // boundary, so user components factor exactly through maximal
      // ≤gap event segments (users sharing a multi-user segment are
      // chained inside it; users only in single-user segments have no
      // edges and are absent from the operator's output) — and
      // alternating user↔segment min-label over the (user, segment)
      // INCIDENCE (≤1M rows, never pair-expanded). Each round appends
      // TWO pointer-doubling chases on the one-row-per-user label table
      // (r10 — the engine's chase trick, same legality argument as
      // [[minLabelPropagation]]: a label is always a member user's id,
      // so l(l(u)) resolves by self-join), which makes the 12-round
      // unroll cover reach ≫ any corpus diameter: the plain 12-round
      // budget fit sf1.0's chained-replica diameter (≈12: replica
      // boundary gaps are ≈46 s < the 300 s rule, so replicas chain
      // into ONE component) EXACTLY, and the sf2.0 doubling corpus
      // (diameter ≈22) blew it — caught by the convergence guard, r10.
      // The guard stays: if the last two rounds differ the oracle emits
      // 0 rows and the compare fails loudly — non-convergence can never
      // silently pass. At a converged fixpoint every label equals its
      // component's min user id, which is exactly the operator's
      // min-label propagation result.
      Some {
        val r = 12
        val iters = (1 to r).map { i =>
          // MATERIALIZED is load-bearing: u_i references u_{i-1} twice,
          // so inlined CTEs would re-evaluate the chain 2^rounds times.
          s"""sl$i AS MATERIALIZED (SELECT s, min(l) AS l FROM uss JOIN u${i - 1}c2 USING (user_id) GROUP BY s),
             |              u${i}r AS MATERIALIZED (SELECT u.user_id, least(min(x.l), min(p.l)) AS l
             |                      FROM uss u JOIN sl$i x USING (s)
             |                      JOIN u${i - 1}c2 p ON p.user_id = u.user_id
             |                      GROUP BY u.user_id),
             |              u${i}c1 AS MATERIALIZED (SELECT a.user_id, least(a.l, b.l) AS l
             |                      FROM u${i}r a JOIN u${i}r b ON a.l = b.user_id),
             |              u${i}c2 AS MATERIALIZED (SELECT a.user_id, least(a.l, b.l) AS l
             |                      FROM u${i}c1 a JOIN u${i}c1 b ON a.l = b.user_id)""".stripMargin
        }.mkString(",\n              ")
        s"""WITH ev AS MATERIALIZED (
              SELECT event_type, user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
              FROM events),
              lg AS MATERIALIZED (
                SELECT event_type, user_id, ts_us, event_id,
                       lag(ts_us) OVER (PARTITION BY event_type
                                        ORDER BY ts_us ASC, event_id ASC) AS prev_ts
                FROM ev),
              sg AS MATERIALIZED (
                SELECT event_type, user_id,
                       sum(CASE WHEN prev_ts IS NULL
                                  OR ts_us - prev_ts > 300000000
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY event_type
                               ORDER BY ts_us ASC, event_id ASC
                               ROWS UNBOUNDED PRECEDING) AS seg_no
                FROM lg),
              us AS MATERIALIZED (
                SELECT DISTINCT event_type, seg_no, user_id FROM sg),
              mu AS MATERIALIZED (
                SELECT event_type, seg_no FROM us
                GROUP BY 1, 2 HAVING count(*) >= 2),
              uss AS MATERIALIZED (
                SELECT u.user_id,
                       dense_rank() OVER (ORDER BY u.event_type, u.seg_no) AS s
                FROM us u JOIN mu USING (event_type, seg_no)),
              u0c2 AS (SELECT DISTINCT user_id, user_id AS l FROM uss),
              $iters,
              chg AS (SELECT count(*) AS n
                      FROM u${r}c2 a JOIN u${r - 1}c2 b USING (user_id)
                      WHERE a.l <> b.l)
              SELECT l AS component, CAST(count(*) AS BIGINT) AS n_users
              FROM u${r}c2, chg WHERE chg.n = 0
              GROUP BY l"""
      }),

    // ---- g04: clustering coefficients (degree-bucketed census) ---------
    // HOW CLIQUISH is each degree class — the density signal that
    // separates organic communities (high local CC at moderate degree)
    // from bot/spam hubs (huge degree, near-zero CC). Per-node triangle
    // counts reuse g02's degree-ordered orientation ([[orientedEdges]]):
    // each closed wedge (a→b, b→c, a→c) is found exactly once, then
    // credited to ALL THREE corners via explode — so per-node counts stay
    // exact while the wedge join keeps its O(√m) out-degree bound (a
    // per-node naive wedge count would re-explode on hubs, the exact
    // failure mode the orientation exists to kill). Local CC of node x =
    // 2·tri_x / (dg_x·(dg_x−1)); within a degree bucket every node shares
    // the denominator, so the bucket average collapses to ONE float
    // division on integer sums — exact, merge-order-free, gridded once
    // ([[grid9]]). Global CC is derivable downstream (Σ2·tri / Σdg(dg−1))
    // from the same rows. Scale: explode triples the (bounded) triangle
    // set; everything else is the g02 plan plus one integer aggregate
    // keyed on node id and one on degree (≤ max-degree rows).
    ("g04_clustering",
      (s, d) => {
        val (_, deg, dir) = orientedEdges(s, d)
        val tri = dir
          .join(dir.select(col("a").as("b"), col("b").as("c")), "b")
          .join(dir.select(col("a"), col("b").as("c")), Seq("a", "c"))
          .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("x"), "left")
          .select(col("dg"), coalesce(col("tri"), lit(0L)).as("tri"))
          .groupBy(col("dg"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("total_tri"))
          .select(col("dg"), col("n_nodes"), col("total_tri"),
            when(col("dg") >= 2,
              grid9(lit(2.0) * col("total_tri") /
                (col("n_nodes") * col("dg") * (col("dg") - 1))))
              .otherwise(lit(0.0)).as("avg_cc"))
      },
      Some(s"""WITH $eventGraphBaseCte,
              $orientedEdgesCte,
              tri3 AS MATERIALIZED (
                SELECT e1.a AS a, e1.b AS b, e2.b AS c
                FROM dir e1
                JOIN dir e2 ON e2.a = e1.b
                JOIN dir e3 ON e3.a = e1.a AND e3.b = e2.b),
              tv AS MATERIALIZED (
                SELECT x, CAST(count(*) AS BIGINT) AS tri
                FROM (SELECT a AS x FROM tri3 UNION ALL
                      SELECT b AS x FROM tri3 UNION ALL
                      SELECT c AS x FROM tri3)
                GROUP BY 1),
              pern AS MATERIALIZED (
                SELECT d.dg, coalesce(tv.tri, CAST(0 AS BIGINT)) AS tri
                FROM deg d LEFT JOIN tv ON tv.x = d.x)
              SELECT dg, CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(tri) AS BIGINT) AS total_tri,
                     CASE WHEN dg >= 2
                          THEN FLOOR((CAST(2 AS DOUBLE) * sum(tri)
                                      / (count(*) * dg * (dg - 1)))
                                     * 1000000000 + 0.5) / 1000000000
                          ELSE CAST(0 AS DOUBLE) END AS avg_cc
              FROM pern GROUP BY dg""")),

    // ---- g05: k-core decomposition (k = 3 peel) --------------------------
    // The DENSE NUCLEUS of the interaction graph: peel nodes of degree
    // < k until fixpoint — what survives is the 3-core, the standard
    // spam/community-density substrate (Seidman 1983). Each round is one
    // degree aggregate + two semi-joins (edges keep both endpoints),
    // cut like every iterative-family loop ([[unroll]]); the round count
    // is FIXED at [[KcoreRounds]] so the DuckDB oracle can replay the
    // identical unroll, and a driver-side scalar check fails LOUDLY if
    // the peel hasn't converged by then (an unconverged core silently
    // overcounts — same posture as minLabelPropagation's require). Peel
    // rounds after convergence are no-ops (deg ≥ k everywhere ⇒ both
    // semi-joins keep everything), so fixed-unroll ≡ fixpoint. Scale:
    // every round strictly shrinks the edge set; degrees are one
    // map-side-combined aggregate; no join ever carries more than the
    // current (shrinking) edge list.
    ("g05_kcore",
      (s, d) => {
        val k = 3
        val e = unroll(undirectedEdges(s, d), KcoreRounds) { (e, _) =>
          val keep = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
            .groupBy(col("x")).agg(count(lit(1)).as("dg"))
            .filter(col("dg") >= k)
            .select(col("x")).cut
          e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
            .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
            .select(col("u"), col("v"))
        }
        val mdRow = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("dg"))
          .agg(min(col("dg")).as("md")).head()
        require(mdRow.isNullAt(0) || mdRow.getLong(0) >= k,
          s"k-core peel did not converge in $KcoreRounds rounds (min residual " +
            s"degree ${mdRow.get(0)} < $k) — raise KcoreRounds (oracle unroll " +
            "must match)")
        val nodes = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
          .distinct().agg(count(lit(1)).as("n_nodes"))
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(nodes)
          .select(lit(k.toLong).as("k"), col("n_nodes"), col("n_edges"))
      },
      Some(s"""WITH $eventGraphBaseCte,
              $undirectedCte,
              e0 AS (SELECT u, v FROM und),
              ${kcorePeelSteps(KcoreRounds, 3)}
              SELECT CAST(3 AS BIGINT) AS k,
                     (SELECT CAST(count(*) AS BIGINT) FROM
                        (SELECT DISTINCT x FROM
                          (SELECT u AS x FROM e$KcoreRounds UNION ALL
                           SELECT v AS x FROM e$KcoreRounds))) AS n_nodes,
                     (SELECT CAST(count(*) AS BIGINT) FROM e$KcoreRounds) AS n_edges""")),

    // ---- g06: bipartite projection (event-type co-engagement) ------------
    // Project the user×event_type bipartite graph onto its type side:
    // for every type pair, how many users touch BOTH, and the Jaccard
    // overlap of their audiences — the "users who do A also do B"
    // affinity matrix behind recommendation and funnel design. The
    // pair expansion NEVER self-joins the corpus: one user-keyed
    // aggregate collects each user's sorted distinct-type array
    // (bounded by the type DOMAIN, not their event count), and ordered
    // pairs explode from the array map-side — ≤ C(|types|,2) rows per
    // user, linear in users whatever the stream volume. The collected
    // frame is user-sized and cut once (the p06/d13
    // shared-subtree discipline: both the pair aggregate and the
    // per-type audience counts consume it — without the cut the
    // corpus-sized collect_set subtree re-plans per consumer). Audience
    // counts are a |types|-row broadcast; Jaccard is one long/long
    // division on the 1e-9 grid (grid9 — the graph family's shared
    // float discipline).
    ("g06_bipartite",
      (s, d) => {
        val sets = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_set(col("event_type"))).as("ts"))
          .cut
        val pairs = sets
          .select(explode(expr(
            """flatten(transform(ts, (x, i) ->
              |  transform(slice(ts, i + 2, size(ts)),
              |            y -> named_struct('ta', x, 'tb', y))))""".stripMargin)).as("p"))
          .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
          .agg(count(lit(1)).as("n_users_both"))
        // |types| rows, consumed twice (a-side and b-side audience
        // joins) — checkpointed so the audience aggregate runs once.
        val tc = sets.select(explode(col("ts")).as("et"))
          .groupBy(col("et")).agg(count(lit(1)).as("nu"))
          .cut
        pairs
          .join(broadcast(tc.select(col("et").as("type_a"), col("nu").as("na"))), "type_a")
          .join(broadcast(tc.select(col("et").as("type_b"), col("nu").as("nb"))), "type_b")
          .select(col("type_a"), col("type_b"), col("n_users_both"),
            grid9(col("n_users_both").cast("double")
              / (col("na") + col("nb") - col("n_users_both"))).as("jaccard"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                               CAST(count(*) AS BIGINT) AS n_users_both
                        FROM ut a JOIN ut b ON a.user_id = b.user_id
                                           AND a.event_type < b.event_type
                        GROUP BY 1, 2),
              tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nu
                     FROM ut GROUP BY 1)
              SELECT p.type_a, p.type_b, p.n_users_both,
                     FLOOR(CAST(p.n_users_both AS DOUBLE)
                           / (ta.nu + tb.nu - p.n_users_both)
                           * 1000000000 + 0.5) / 1000000000 AS jaccard
              FROM pairs p
              JOIN tc ta ON p.type_a = ta.event_type
              JOIN tc tb ON p.type_b = tb.event_type""")),

    // ---- g07: HITS hubs and authorities ----------------------------------
    // WHO curates vs WHO is cited — Kleinberg's mutually-recursive pair
    // PageRank's single score can't separate: a(v) = Σ h(u) over in-edges,
    // h(u) = Σ a(v) over out-edges, L1-normalized each half-step (the
    // public power-iteration formulation, fixed [[HitsIters]] rounds so
    // the DuckDB oracle replays the identical unroll). Float discipline =
    // g01's: sums are merge-order-dependent, so every half-step lands on
    // the 1e-9 grid with identical op order in both engines — the grid
    // re-synchronizes per step instead of letting drift compound.
    // Scale, per iteration: TWO corpus-edge joins (vs PageRank's one —
    // the price of mutual recursion), each hash-keyed on its join column;
    // the L1 norm is a 1-row aggregate broadcast by crossJoin; lineage
    // cut per half-step (the iterative-family cut
    // discipline). On a cluster the edge table is written once bucketed
    // by src (and its dst-keyed twin by dst) so each half-step shuffles
    // only the score side. Top-20 by authority via TakeOrdered.
    ("g07_hits",
      (s, d) => {
        val nodesC = Tables.events(s, d).select(col("user_id").as("id"))
          .distinct().cut
        val edgesC = interactionEdges(s, d).cut
        var h = nodesC.select(col("id"), lit(1.0).as("h"))
        var a: DataFrame = null
        for (_ <- 1 to HitsIters) {
          // The loop works SPARSE (t20's discipline, taken further than
          // the old 4-checkpoint form): a node with no in-edges has
          // a = 0, and a zero score contributes literal 0.0 to every
          // downstream sum — so the dense zero-padding left join adds
          // nothing inside the loop and runs ONCE after it. Per
          // half-step that leaves one corpus-edge join + one aggregate
          // + the 1-row norm broadcast, with a single lineage cut on
          // the post-aggregate frame (the smallest in the half-step,
          // shared by the norm and the normalized join).
          val ain = edgesC.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst")).agg(sum(col("h")).as("ain"))
            .cut
          val sa = ain.agg(sum(col("ain")).as("s"))
          a = ain.crossJoin(sa)
            .select(col("dst").as("id"), grid9(col("ain") / col("s")).as("a"))
          val hout = edgesC.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(col("src")).agg(sum(col("a")).as("hout"))
            .cut
          val sh = hout.agg(sum(col("hout")).as("s"))
          h = hout.crossJoin(sh)
            .select(col("src").as("id"), grid9(col("hout") / col("s")).as("h"))
        }
        // Densify once: restore the zero-score rows the sparse loop
        // never carried (grid9(0/s) = 0 exactly, so values match the
        // dense unroll bit-for-bit).
        val aD = nodesC.join(a, Seq("id"), "left")
          .select(col("id"), coalesce(col("a"), lit(0.0)).as("a"))
        val hD = nodesC.join(h, Seq("id"), "left")
          .select(col("id"), coalesce(col("h"), lit(0.0)).as("h"))
        aD.join(hD, "id")
          .select(col("id").as("user_id"), col("a").as("authority"), col("h").as("hub"))
          .orderBy(col("authority").desc, col("user_id").asc)
          .limit(20)
      },
      Some(hitsOracle(HitsIters)))
,
    // ---- g08: degree distribution + power-law fit ------------------------
    // IS the graph scale-free — the first question asked of any new
    // interaction graph, because every downstream choice (g02's
    // degree-ordering bound, skew salting, hub capping) assumes heavy
    // tails. Histogram of undirected degrees with the complementary
    // cumulative (CCDF — the standard power-law view; the plain
    // histogram's noisy tail hides the slope) and a log-log OLS exponent
    // (regr_slope, the t14 Zipf machinery on graph data). Shape at
    // scale: degrees are one node-keyed aggregate; the histogram is
    // DEGREE-CLASS-sized (≤ max-degree rows), so the CCDF window and
    // the fit run on a frame that stays tiny whatever the edge count;
    // the 1-row fit broadcasts back onto the histogram.
    ("g08_degree_dist",
      (s, d) => {
        val deg = degreesOf(undirectedEdges(s, d))
        val h = deg.groupBy(col("dg")).agg(count(lit(1)).as("n_nodes"))
          .cut
        val wTail = Window.orderBy(col("dg").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fit = h.agg(
          (floor(regr_slope(log(col("n_nodes")), log(col("dg")))
            * 1000000 + 0.5) / 1000000).as("alpha"))
        h.withColumn("n_nodes_ge", sum(col("n_nodes")).over(wTail))
          .crossJoin(broadcast(fit))
          .select(col("dg"), col("n_nodes"), col("n_nodes_ge"), col("alpha"))
      },
      Some(s"""WITH $eventGraphBaseCte,
              $undirectedCte,
              $degreeCte,
              h AS MATERIALIZED (
                SELECT dg, CAST(count(*) AS BIGINT) AS n_nodes
                FROM dg0 GROUP BY 1),
              fit AS (SELECT FLOOR(regr_slope(ln(n_nodes), ln(dg))
                             * 1000000 + 0.5) / 1000000 AS alpha FROM h)
              SELECT dg, n_nodes,
                     CAST(sum(n_nodes) OVER (ORDER BY dg DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS n_nodes_ge,
                     alpha
              FROM h, fit""")),

    // ---- g09: neighbor-set Jaccard similarity (structural equivalence) -
    // "Users who interact with the same people" — link prediction's
    // classic feature and the graph twin of d04's document Jaccard. The
    // all-pairs form is O(n²); the scalable form is the SAME inverted-
    // index shape as the n-gram dedup ladder: enumerate co-neighbor
    // pairs through each shared neighbor w (Σ_w deg(w)² candidate work),
    // after restricting to the HUB-CAPPED subgraph (degree ≤ 256 — the
    // df-cap rule; a hub's neighbor list pairs quadratically and
    // contributes near-zero Jaccard, exactly like a stopword gram).
    // The cap is part of the operator's declared semantics, so the
    // oracle applies the identical rule — the result is EXACT on the
    // capped subgraph, not approximate. On THIS synthetic graph (dense,
    // max degree 185 at sf0.1) the cap is above every degree, so the
    // output is the exact full answer; on the power-law graphs the
    // operator targets, the cap is the knob that bounds Σ deg² — the
    // same contract as d04's GramDfCap. τ = 0.5 keeps the strongly-
    // equivalent tail (~3% of pairs at sf0.01). Counters are integers; the only
    // division is the final gridded Jaccard. Two exchanges (by w, then
    // by pair); both AQE-splittable — no single hot key because the cap
    // bounds every neighbor list.
    ("g09_jaccard",
      (s, d) => neighborJaccard(s, d),
      Some(s"""WITH $eventGraphBaseCte,
              $undirectedCte,
              $degreeCte,
              keep AS MATERIALIZED (SELECT x FROM dg0 WHERE dg <= 256),
              adj AS MATERIALIZED (
                SELECT u, v FROM und
                WHERE u IN (SELECT x FROM keep) AND v IN (SELECT x FROM keep)),
              cdeg AS MATERIALIZED (
                SELECT x, CAST(count(*) AS BIGINT) AS cd
                FROM (SELECT u AS x FROM adj UNION ALL SELECT v AS x FROM adj)
                GROUP BY 1),
              inc AS MATERIALIZED (
                SELECT u AS w, v AS n FROM adj
                UNION ALL SELECT v AS w, u AS n FROM adj),
              pairs AS MATERIALIZED (
                SELECT l.n AS a_id, r.n AS b_id, CAST(count(*) AS BIGINT) AS inter
                FROM inc l JOIN inc r ON l.w = r.w AND l.n < r.n
                GROUP BY 1, 2)
              SELECT a_id, b_id, inter, da.cd AS deg_a, db.cd AS deg_b,
                     FLOOR(CAST(inter AS DOUBLE) / (da.cd + db.cd - inter)
                           * 1000000000 + 0.5) / 1000000000 AS jac
              FROM pairs
              JOIN cdeg da ON da.x = a_id JOIN cdeg db ON db.x = b_id
              WHERE FLOOR(CAST(inter AS DOUBLE) / (da.cd + db.cd - inter)
                          * 1000000000 + 0.5) / 1000000000 >= 0.5""")),

    // ---- g10: community conductance (partition-quality audit) ----------
    // Are g03's temporal-proximity communities REAL communities of the
    // full interaction graph, or artifacts of the 5-minute window? The
    // standard answer is conductance: φ(C) = cut(C) / min(vol(C),
    // 2m − vol(C)) — low φ means the community keeps its edges inside.
    // Communities come from a TIGHT (10 s) proximity graph — g03's
    // exact labeling machinery ([[minLabelPropagation]], chase-accelerated) at a window
    // that actually fragments this corpus into communities (the 300 s
    // window merges it into one component, which would make the report
    // a single row); cut/vol are measured on the FULL undirected
    // interaction graph, where the cut is genuinely nonzero (on the
    // proximity graph itself every component has φ = 0 by construction
    // — a vacuous report). All counters are integers on the symmetrized edge
    // stream: vol = labeled-endpoint degree sum, cut = edges whose
    // other endpoint is outside the community (different label or
    // unlabeled); the single division is gridded, with the φ = 0/0
    // whole-graph edge pinned to 0 in both engines. Shape at scale: the
    // CC loop is g03's (O(diameter) rounds, scalar-only fixpoint); the
    // audit itself is two label joins on the edge stream's own key +
    // ONE community aggregate + a 1-row total broadcast.
    ("g10_conductance",
      (s, d) => {
        val labels =
          minLabelPropagation(proximityEdges(s, d, 10L * 1000000L))
            .cut
        val und = undirectedEdges(s, d)
        val sym = und.select(col("u").as("x"), col("v").as("y"))
          .union(und.select(col("v").as("x"), col("u").as("y")))
        val m2 = und.agg((count(lit(1)) * 2).as("m2"))
        sym
          .join(labels.select(col("doc_id").as("x"), col("label").as("lab_x")), "x")
          .join(labels.select(col("doc_id").as("y"), col("label").as("lab_y")),
            Seq("y"), "left")
          .groupBy(col("lab_x").as("community"))
          .agg(count(lit(1)).as("vol"),
            count(when(col("lab_y").isNull || col("lab_y") =!= col("lab_x"), 1))
              .as("cut"))
          .crossJoin(broadcast(m2))
          .select(col("community"), col("vol"), col("cut"),
            when(least(col("vol"), col("m2") - col("vol")) === 0, lit(0.0))
              .otherwise(grid9(col("cut").cast("double")
                / least(col("vol"), col("m2") - col("vol"))))
              .as("conductance"))
      },
      Some(s"""WITH RECURSIVE $eventGraphBaseCte,
              $undirectedCte,
              ${proximityCte(10000000L)},
              pedges AS MATERIALIZED (
                SELECT a, b FROM prox UNION SELECT b, a FROM prox),
              reach(a, b) AS (SELECT a, b FROM pedges
                              UNION SELECT r.a, e.b FROM reach r JOIN pedges e ON r.b = e.a),
              comp AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS label
                                    FROM reach GROUP BY a),
              sym AS MATERIALIZED (
                SELECT u AS x, v AS y FROM und
                UNION ALL SELECT v AS x, u AS y FROM und),
              m2 AS (SELECT CAST(2 * count(*) AS BIGINT) AS m2 FROM und),
              agg AS (SELECT cx.label AS community,
                        CAST(count(*) AS BIGINT) AS vol,
                        CAST(count(*) FILTER (WHERE cy.label IS NULL
                                              OR cy.label <> cx.label) AS BIGINT) AS cut
                      FROM sym
                      JOIN comp cx ON cx.id = sym.x
                      LEFT JOIN comp cy ON cy.id = sym.y
                      GROUP BY 1)
              SELECT community, vol, cut,
                     CASE WHEN least(vol, m2.m2 - vol) = 0 THEN CAST(0 AS DOUBLE)
                          ELSE FLOOR(CAST(cut AS DOUBLE)
                                     / least(vol, m2.m2 - vol)
                                     * 1000000000 + 0.5) / 1000000000 END
                       AS conductance
              FROM agg, m2""")),

    // ---- g11: degree assortativity (Newman 2002) -----------------------
    // DO hubs connect to hubs? One scalar answers it: the Pearson
    // correlation of endpoint degrees over the edge list (positive =
    // assortative/social-network-like, negative = hub-and-spoke). The
    // sign decides which scale remedies matter downstream — a
    // disassortative graph concentrates wedge work on hub×leaf joins
    // (g02's degree-orientation wins), an assortative one forms dense
    // cores (g05's peel finds them). Undirected, so every edge
    // contributes BOTH (deg u, deg v) and (deg v, deg u) — the standard
    // symmetrized form, which also makes corr's two marginals identical.
    // Shape at scale: degrees are one node-keyed aggregate; the two
    // degree stitch-backs are node-sized hash joins on the edge
    // stream's own keys; corr is a single mergeable co-moment aggregate
    // (no window, no collect). Pearson r is invariant to the n vs n−1
    // variance convention (the factors cancel), so Spark's corr and
    // DuckDB's corr agree up to merge order — one 1e-6 grid on the
    // final scalar, the g08 fit discipline.
    ("g11_assortativity",
      (s, d) => {
        val und = undirectedEdges(s, d)
        val deg = degreesOf(und)
        val sym = und.select(col("u").as("x"), col("v").as("y"))
          .union(und.select(col("v").as("x"), col("u").as("y")))
        // Pearson r from EXACT integer moment sums, not the builtin
        // corr aggregate: degrees are integers, so n/Σx/Σy/Σx²/Σy²/Σxy
        // are exact longs (mergeable map-side partials) and the n-factor
        // form r = (nΣxy − ΣxΣy)/(√(nΣx²−Σx²̂)·√(nΣy²−Σy²̂)) is computed
        // in IDENTICAL op order by both engines — and the zero-variance
        // case (degree-regular graph — the sf0.001 shape) is a GUARDED
        // null instead of a division Spark's ANSI-mode corr turns into
        // a runtime error. Cross products lift through decimal(38,0)
        // (HUGEINT on the oracle side) before the one double division —
        // overflow-free to ~1e19 edge-endpoint rows; at larger scale
        // lift the moment sums themselves to decimal.
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val st = sym
          .join(deg, "x")
          .join(deg.select(col("x").as("y"), col("dg").as("dg_y")), "y")
          .agg(count(lit(1)).as("n"),
            sum(col("dg")).as("sx"), sum(col("dg_y")).as("sy"),
            // The SECOND-moment sums are accumulated in decimal too —
            // a Long sum of dg² wraps silently at Σdg² > 2^63 (≈1e6
            // hub-degree endpoints of degree 1e7), while the oracle's
            // HUGEINT sum would stay exact: the decimal lift must start
            // at the sum inputs, not at the cross products.
            sum(dec(col("dg")) * dec(col("dg"))).as("sxx"),
            sum(dec(col("dg_y")) * dec(col("dg_y"))).as("syy"),
            sum(dec(col("dg")) * dec(col("dg_y"))).as("sxy"))
        val num = (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))).cast("double")
        val dx = (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))).cast("double")
        val dy = (dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))).cast("double")
        st.select((col("n") / 2).cast("long").as("n_edges"),
          when(col("n") === 0 || dx <= 0 || dy <= 0, lit(null).cast("double"))
            .otherwise(floor(num / (sqrt(dx) * sqrt(dy)) * 1000000 + 0.5) / 1000000)
            .as("assortativity"))
      },
      Some(s"""WITH $eventGraphBaseCte,
              $undirectedCte,
              $degreeCte,
              sym AS (SELECT u AS x, v AS y FROM und
                      UNION ALL SELECT v AS x, u AS y FROM und),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(dx.dg) AS BIGINT) AS sx,
                            CAST(sum(dy.dg) AS BIGINT) AS sy,
                            sum(CAST(dx.dg AS HUGEINT) * dx.dg) AS sxx,
                            sum(CAST(dy.dg AS HUGEINT) * dy.dg) AS syy,
                            sum(CAST(dx.dg AS HUGEINT) * dy.dg) AS sxy
                     FROM sym JOIN dg0 dx ON dx.x = sym.x
                     JOIN dg0 dy ON dy.x = sym.y)
              SELECT CAST(n / 2 AS BIGINT) AS n_edges,
                     CASE WHEN n = 0
                            OR CAST(CAST(n AS HUGEINT) * sxx
                                    - CAST(sx AS HUGEINT) * sx AS DOUBLE) <= 0
                            OR CAST(CAST(n AS HUGEINT) * syy
                                    - CAST(sy AS HUGEINT) * sy AS DOUBLE) <= 0
                          THEN NULL
                          ELSE FLOOR(
                            CAST(CAST(n AS HUGEINT) * sxy
                                 - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                            / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                         - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                               * sqrt(CAST(CAST(n AS HUGEINT) * syy
                                           - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                            * 1000000 + 0.5) / 1000000 END AS assortativity
              FROM st""")),

    // ---- g12: community modularity (the OTHER partition-quality audit) -
    // g10 measures conductance (how leaky is each community's boundary);
    // modularity measures the complement a partition optimizer targets:
    // Q_c = e_c/m − (d_c/2m)² — internal edge mass vs what a random
    // graph with the same degrees would put there (Newman & Girvan
    // 2004). Same fixture as g10: communities from the TIGHT (10 s)
    // proximity labeling, audited on the FULL interaction graph. All
    // counters integer (e_in via a both-endpoints label join on the
    // undirected edge list, d_tot via the degree stitch) until the one
    // gridded term; m is a 1-row broadcast. Shape at scale: the CC loop
    // is g03's; the audit is two label joins + one community aggregate.
    ("g12_modularity",
      (s, d) => {
        val labels =
          minLabelPropagation(proximityEdges(s, d, 10L * 1000000L))
            .cut
        val und = undirectedEdges(s, d)
        val lab = labels.select(col("doc_id"), col("label"))
        val ein = und
          .join(lab.select(col("doc_id").as("u"), col("label").as("lab_u")), "u")
          .join(lab.select(col("doc_id").as("v"), col("label").as("lab_v")), "v")
          .filter(col("lab_u") === col("lab_v"))
          .groupBy(col("lab_u").as("community"))
          .agg(count(lit(1)).as("e_in"))
        val dtot = degreesOf(und)
          .join(lab.select(col("doc_id").as("x"), col("label")), "x")
          .groupBy(col("label").as("community"))
          .agg(sum(col("dg")).as("d_tot"), count(lit(1)).as("n_members"))
        val m = und.agg(count(lit(1)).as("m"))
        dtot.join(ein, Seq("community"), "left")
          .select(col("community"), col("n_members"), col("d_tot"),
            coalesce(col("e_in"), lit(0L)).as("e_in"))
          .crossJoin(broadcast(m))
          .select(col("community"), col("n_members"), col("e_in"), col("d_tot"),
            grid9(col("e_in").cast("double") / col("m")
              - (col("d_tot").cast("double") / (lit(2L) * col("m")))
                * (col("d_tot").cast("double") / (lit(2L) * col("m"))))
              .as("modularity_term"))
      },
      Some(s"""WITH RECURSIVE $eventGraphBaseCte,
              $undirectedCte,
              ${proximityCte(10000000L)},
              pedges AS MATERIALIZED (
                SELECT a, b FROM prox UNION SELECT b, a FROM prox),
              reach(a, b) AS (SELECT a, b FROM pedges
                              UNION SELECT r.a, e.b FROM reach r JOIN pedges e ON r.b = e.a),
              comp AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS label
                                    FROM reach GROUP BY a),
              $degreeCte,
              m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
              ein AS (SELECT cu.label AS community,
                        CAST(count(*) AS BIGINT) AS e_in
                      FROM und
                      JOIN comp cu ON cu.id = und.u
                      JOIN comp cv ON cv.id = und.v
                      WHERE cu.label = cv.label
                      GROUP BY 1),
              dt AS (SELECT c.label AS community,
                       CAST(sum(d.dg) AS BIGINT) AS d_tot,
                       CAST(count(*) AS BIGINT) AS n_members
                     FROM dg0 d JOIN comp c ON c.id = d.x
                     GROUP BY 1)
              SELECT dt.community, dt.n_members,
                     coalesce(ein.e_in, 0) AS e_in, dt.d_tot,
                     FLOOR((CAST(coalesce(ein.e_in, 0) AS DOUBLE) / m.m
                            - (CAST(dt.d_tot AS DOUBLE) / (2 * m.m))
                              * (CAST(dt.d_tot AS DOUBLE) / (2 * m.m)))
                           * 1000000000 + 0.5) / 1000000000 AS modularity_term
              FROM dt LEFT JOIN ein ON ein.community = dt.community, m""")),

    // ---- g13: multi-source BFS hop distances -----------------------------
    // The third semiring of the iterative-join family: PageRank sums
    // (+,×), components take min labels, BFS runs MIN-PLUS — distance
    // relaxation dist'(v) = min(dist(v), min over (u,v) of dist(u)+1) —
    // the "blast radius" query (how far does influence/abuse spread from
    // a seed set). Seeds are every graph node with user_id ≡ 0 (mod 50);
    // 6 relaxation rounds bound the horizon, unreached nodes are absent
    // (not NULL rows). Each round is ONE hash-keyed join + ONE min
    // aggregate with lineage cut ([[unroll]]); full-edge
    // relaxation keeps the round a pure replayable plan — a production
    // run at 100 TB sends only the CHANGED frontier into the join
    // (frontier ⋈ edges instead of dist ⋈ edges), same plan shape with a
    // delta filter, converging work per round instead of O(E). Oracle:
    // unrolled min-plus CTEs over the same undirected edge set.
    ("g13_bfs_layers",
      (s, d) => {
        val und = undirectedEdges(s, d)
        val sym = und.select(col("u").as("x"), col("v").as("y"))
          .union(und.select(col("v").as("x"), col("u").as("y")))
          .cut
        val dist0 = sym.select(col("x").as("node")).distinct()
          .filter(col("node") % 50 === 0)
          .withColumn("dist", lit(0L)).cut
        unroll(dist0, BfsRounds) { (dist, _) =>
          val hop = sym.join(dist, sym("x") === dist("node"))
            .select(col("y").as("node"), (col("dist") + 1L).as("dist"))
          dist.union(hop)
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        }.select(col("node").as("user_id"), col("dist"))
      },
      Some {
        val head =
          s"""WITH $eventGraphBaseCte,
             |$undirectedCte,
             |sym AS MATERIALIZED (
             |  SELECT u AS x, v AS y FROM und UNION ALL SELECT v, u FROM und),
             |d0 AS MATERIALIZED (
             |  SELECT DISTINCT x AS node, CAST(0 AS BIGINT) AS dist
             |  FROM sym WHERE x % 50 = 0)""".stripMargin
        val steps = (1 to BfsRounds).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             |    SELECT node, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT s.y AS node, p.dist + 1 AS dist
             |    FROM d${i - 1} p JOIN sym s ON s.x = p.node)
             |  GROUP BY node)""".stripMargin
        }
        (head +: steps).mkString(",\n") +
          s"\nSELECT node AS user_id, dist FROM d$BfsRounds"
      }),

    // ---- g14: label-propagation communities (Raghavan et al. 2007) -----
    // Community DETECTION — the missing rung between g03 (connected
    // components = communities under pure reachability) and g12
    // (modularity of labels someone else supplied): LPA finds
    // denser-than-chance groups, splitting bridge-connected components
    // and refining the co-activity structure. Runs over the SAME
    // temporal-proximity graph as g03 ([[proximityEdges]], 5-minute
    // gap), so the two labelings audit against each other (LPA can only
    // refine g03's components — a community never spans components).
    // Synchronous sweeps, [[LpaRounds]] fixed: every node adopts the
    // most frequent label among its neighbors, ties to the SMALLEST
    // label — both rules integer-only, so there is no float-drift
    // surface at all and the DuckDB unroll replays bit-exactly. The
    // argmax is ONE max(struct) aggregate (cnt, then -label), not a
    // window: per-iteration work is labels⋈edges (hash-keyed on the
    // node id, the g01 shape) + two map-side-combined aggregates,
    // lineage cut per sweep ([[unroll]]). Scale: state is one
    // (node,label) row per node; the join shuffles only the label side
    // once edges are bucketed by source ([[graft.sources.Io]] standing
    // layout); counts never materialize more than (node, distinct
    // neighbor label) rows, which the degree bound caps at |E|. Output:
    // community label → size, the g03 output contract.
    ("g14_label_propagation",
      (s, d) => {
        val und = proximityEdges(s, d, 300L * 1000000L)
          .select(least(col("a_id"), col("b_id")).as("u"),
            greatest(col("a_id"), col("b_id")).as("v"))
          .distinct().cut
        val sym = und.select(col("u").as("x"), col("v").as("y"))
          .union(und.select(col("v").as("x"), col("u").as("y")))
          .cut
        val lbl0 = sym.select(col("x").as("node")).distinct()
          .withColumn("label", col("node")).cut
        unroll(lbl0, LpaRounds) { (lbl, _) =>
          sym.join(lbl, sym("y") === lbl("node"))
            .groupBy(col("x"), col("label")).agg(count(lit(1)).as("cnt"))
            .groupBy(col("x"))
            .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
            .select(col("x").as("node"), (-col("m.nl")).as("label"))
        }.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some {
        val head =
          s"""WITH ev AS MATERIALIZED (
             |  SELECT event_type, user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
             |  FROM events),
             |${proximityCte(300000000L)},
             |undp AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM prox),
             |sym AS MATERIALIZED (
             |  SELECT u AS x, v AS y FROM undp UNION ALL SELECT v, u FROM undp),
             |l0 AS MATERIALIZED (
             |  SELECT DISTINCT x AS node, x AS label FROM sym)""".stripMargin
        val steps = (1 to LpaRounds).map { i =>
          s"""c$i AS MATERIALIZED (
             |  SELECT s.x, l.label, CAST(count(*) AS BIGINT) AS cnt
             |  FROM sym s JOIN l${i - 1} l ON l.node = s.y
             |  GROUP BY 1, 2),
             |l$i AS MATERIALIZED (
             |  SELECT x AS node, label FROM (
             |    SELECT x, label,
             |           row_number() OVER (PARTITION BY x
             |                              ORDER BY cnt DESC, label ASC) AS rn
             |    FROM c$i) WHERE rn = 1)""".stripMargin
        }
        (head +: steps).mkString(",\n") +
          s"""\nSELECT label AS community, CAST(count(*) AS BIGINT) AS n_users
             |FROM l$LpaRounds GROUP BY label""".stripMargin
      })
  )

  /** g07's oracle: nodes/edges base + [[hitsOracleSteps]] + the top-20. */
  private def hitsOracle(iters: Int): String =
    s"""WITH $eventGraphBaseCte,
       |nodes AS MATERIALIZED (SELECT DISTINCT user_id AS id FROM ev),
       |edges AS MATERIALIZED (SELECT src, dst FROM edges0),
       |h0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) AS h FROM nodes),
       |${hitsOracleSteps(iters)}
       |SELECT aa.id AS user_id, aa.a AS authority, hh.h AS hub
       |FROM aa$iters aa JOIN h$iters hh ON aa.id = hh.id
       |ORDER BY authority DESC, user_id ASC LIMIT 20""".stripMargin

  /** The per-iteration (authority, norm, hub, norm) CTE quadruples of
    * g07's loop — every float expression in the same op order as the
    * Spark side, gridded per half-step. MATERIALIZED for the same
    * 2^iters-inlining reason as [[pageRankOracleSteps]]. */
  private def hitsOracleSteps(iters: Int): String =
    (1 to iters).map { i =>
      s"""ai$i AS MATERIALIZED (
         |  SELECT e.dst, sum(h.h) AS ain
         |  FROM edges e JOIN h${i - 1} h ON h.id = e.src GROUP BY 1),
         |ar$i AS MATERIALIZED (
         |  SELECT nd.id, coalesce(a.ain, CAST(0 AS DOUBLE)) AS ar
         |  FROM nodes nd LEFT JOIN ai$i a ON nd.id = a.dst),
         |sa$i AS MATERIALIZED (SELECT sum(ar) AS s FROM ar$i),
         |aa$i AS MATERIALIZED (
         |  SELECT id, FLOOR(ar / s * 1000000000 + 0.5) / 1000000000 AS a
         |  FROM ar$i, sa$i),
         |ho$i AS MATERIALIZED (
         |  SELECT e.src, sum(a.a) AS hout
         |  FROM edges e JOIN aa$i a ON a.id = e.dst GROUP BY 1),
         |hr$i AS MATERIALIZED (
         |  SELECT nd.id, coalesce(o.hout, CAST(0 AS DOUBLE)) AS hr
         |  FROM nodes nd LEFT JOIN ho$i o ON nd.id = o.src),
         |sh$i AS MATERIALIZED (SELECT sum(hr) AS s FROM hr$i),
         |h$i AS MATERIALIZED (
         |  SELECT id, FLOOR(hr / s * 1000000000 + 0.5) / 1000000000 AS h
         |  FROM hr$i, sh$i)""".stripMargin
    }.mkString(",\n")

  /** The per-round (degree, survivor, edge) CTE triples of g05's peel for
    * the DuckDB oracle — identical unroll count as the Spark loop. */
  private def kcorePeelSteps(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT x, CAST(count(*) AS BIGINT) AS dg
         |  FROM (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v AS x FROM e${i - 1})
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE dg >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT x FROM k$i) AND v IN (SELECT x FROM k$i))""".stripMargin
    }.mkString(",\n")
}
