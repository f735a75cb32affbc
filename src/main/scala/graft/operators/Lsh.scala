package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Cut

/** Shared banded-LSH plumbing.
  *
  * After a band-bucket self-join, a pair that collides in k of the L
  * bands appears k times. The usual fix — `distinct()` — shuffles every
  * candidate row once more. Instead, keep only the row whose band is the
  * FIRST matching band of the two signatures: band b matches iff its
  * bit-group in `sigA XOR sigB` is zero, so the minimal matching band is
  * a pure map-side expression over two longs that already ride the join.
  * Every true pair survives exactly once and an O(candidates) exchange
  * disappears from the pipeline — at 100 TB, the difference between an
  * LSH pass bounded by the band join and one bounded by a second
  * candidate-sized shuffle.
  */
object Lsh {

  /** Array of (band, bv) structs sliced from one signature column —
    * `explode(Lsh.bandStructs(sig, bits, n))` is the banded-table
    * builder shared by d03/d05/v03 (and the calibration sweep), so the
    * band slicing can never diverge between the production plans and the
    * parameter measurements they rest on. */
  def bandStructs(sig: Column, bandBits: Int, nBands: Int): Column =
    bandStructs(sig, bandBits, nBands, 0)

  /** [[bandStructs]] with the emitted band ids shifted by `bandOffset` —
    * multi-WORD signatures (two independent 63-bit hyperplane words, d05)
    * concat the per-word band tables into one band space, so word 2's
    * bands must not collide with word 1's ids in the (band, bv) join key. */
  def bandStructs(sig: Column, bandBits: Int, nBands: Int, bandOffset: Int): Column = {
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map(b =>
      struct(lit(b + bandOffset).as("band"),
        shiftright(sig, b * bandBits).bitwiseAND(lit(mask)).as("bv"))): _*)
  }

  /** All band-value XOR masks of popcount ≤ `h` over `bandBits` bits —
    * the Hamming-≤h probe set: a probe row emits `bv XOR m` for every
    * mask, so a stored row within Hamming h of the probe's band value
    * collides on exactly ONE mask (m = bvProbe XOR bvStored is unique),
    * making the probe join multiplicity-free within a band — no
    * candidate-sized distinct, no canonical-split bookkeeping. Size
    * 1 + C(b,1) + … + C(b,h) (56 at b=10, h=2). */
  def hammingMasks(bandBits: Int, h: Int): Seq[Long] = {
    require(h >= 0 && h <= 2, "hammingMasks supports h in [0, 2]")
    val h0 = Seq(0L)
    val h1 = if (h >= 1) (0 until bandBits).map(i => 1L << i) else Nil
    val h2 = if (h >= 2) (for { i <- 0 until bandBits; j <- i + 1 until bandBits }
      yield (1L << i) | (1L << j)) else Nil
    h0 ++ h1 ++ h2
  }

  /** Index (in the CONCATENATED two-word band space: word-1 bands
    * 0..bandsPerWord-1, word-2 bands bandsPerWord..2·bandsPerWord-1) of
    * the lowest band whose group popcount in the pair's XOR is ≤ h — the
    * multi-word, Hamming-≤h generalization of [[firstMatchingBand]],
    * giving the probe join its exactly-once-per-pair map-side dedup. */
  def firstBandWithinH(xor1: Column, xor2: Column, bandBits: Int,
      bandsPerWord: Int, h: Int): Column = {
    val mask = (1L << bandBits) - 1
    val words = Seq((xor1, 0), (xor2, bandsPerWord))
    words.flatMap { case (x, off) => (0 until bandsPerWord).map(b => (x, b, off + b)) }
      .reverse
      .foldLeft(lit(-1): Column) { case (acc, (x, b, idx)) =>
        when(bit_count(shiftright(x, b * bandBits).bitwiseAND(lit(mask))) <= h, lit(idx))
          .otherwise(acc)
      }
  }

  /** Index of the lowest band whose `bandBits`-wide group is zero in
    * `xorSig` (-1 if none — impossible for rows emitted by a band-equality
    * join, where the matched band's group is zero by construction). */
  def firstMatchingBand(xorSig: Column, bandBits: Int, nBands: Int): Column = {
    val mask = (1L << bandBits) - 1
    (nBands - 1 to 0 by -1).foldLeft(lit(-1): Column)((acc, b) =>
      when(shiftright(xorSig, b * bandBits).bitwiseAND(lit(mask)) === 0, lit(b))
        .otherwise(acc))
  }

  /** Multi-probe band table for a QUERY signature (Lv et al. 2007,
    * applied to the banded-hyperplane scheme): for every band, the
    * query's own band value plus its `bandBits` Hamming-1 neighbors —
    * the buckets a near-neighbor most likely fell into when exactly one
    * band bit disagreed. (1+bandBits)·nBands probe rows per query (80
    * at 4×16) — still broadcast-sized; the STANDING table is untouched,
    * which is the whole point: recall rises without re-hashing or
    * widening the corpus-side layout. */
  def multiProbeStructs(sig: Column, bandBits: Int, nBands: Int): Column = {
    val mask = (1L << bandBits) - 1
    array((0 until nBands).flatMap { b =>
      val bv = shiftright(sig, b * bandBits).bitwiseAND(lit(mask))
      struct(lit(b).as("band"), bv.as("bv")) +:
        (0 until bandBits).map(j =>
          struct(lit(b).as("band"), bv.bitwiseXOR(lit(1L << j)).as("bv")))
    }: _*)
  }

  /** Index of the lowest band whose `bandBits`-wide group in `xorSig`
    * has popcount ≤ 1 — [[firstMatchingBand]] relaxed to the multi-probe
    * match rule, so each (vector, query) candidate survives the probe
    * join exactly once (a vector's band value equals at most one of the
    * 5 probed values in a band). */
  def firstBandWithin1(xorSig: Column, bandBits: Int, nBands: Int): Column = {
    val mask = (1L << bandBits) - 1
    (nBands - 1 to 0 by -1).foldLeft(lit(-1): Column)((acc, b) =>
      when(bit_count(shiftright(xorSig, b * bandBits).bitwiseAND(lit(mask))) <= 1, lit(b))
        .otherwise(acc))
  }

  /** Same idea for LSH schemes whose band signatures are HASHES (one long
    * per band, e.g. xxhash64 of a minhash-signature slice) rather than bit
    * groups of a single long: the lowest index at which the two band-sig
    * arrays agree (0-based; 0-row output if none, which a band-equality
    * join makes impossible). Pure map-side array compare over values that
    * already ride the join — the hashed-band twin of [[firstMatchingBand]],
    * closing the last candidate-sized `distinct()` in the LSH family. */
  def firstMatchingBandArrays(a: Column, b: Column): Column =
    (array_position(zip_with(a, b, (x, y) => x === y), true) - 1).cast("int")

  /** (doc_id, bsig, band, sig) MinHash band table over a documents frame
    * — the ONE builder behind d02 (corpus self-dedup) and d13
    * (incremental batch-vs-corpus dedup), so band geometry, slicing and
    * the signature kernel can never drift between them (the
    * [[hammingPairs]] rule applied to the minhash family). The table
    * stays NARROW — no gram arrays ride the band exchange — but carries
    * the full band-sig array (+8 B/band) so [[firstMatchingBandArrays]]
    * can dedup multi-band collisions map-side, with no candidate-sized
    * distinct. */
  def minhashBandTable(docs: DataFrame, shingleN: Int, bands: Int, rows: Int): DataFrame =
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TextHash
          .minHashSignature(col("text"), shingleN, bands * rows).as("mh"))
      .select(col("doc_id"),
        array((0 until bands).map(b =>
          xxhash64(slice(col("mh"), b * rows + 1, rows))): _*).as("bsig"))
      .select(col("doc_id"), col("bsig"), posexplode(col("bsig")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs: joins
    * the (few) candidates back to a doc-keyed shingle-hash-set
    * projection over `docs`, so the wide gram arrays shuffle once keyed
    * by doc_id — never through the band join — and keeps pairs with
    * jac ≥ `minJac`. Shared by d02/d13 for the same no-drift reason as
    * [[minhashBandTable]]. */
  def jaccardVerifiedPairs(cands: DataFrame, docs: DataFrame, minJac: Double): DataFrame = {
    // Deliberately UNRESTRICTED: shingling only the candidate-pair docs
    // (checkpoint cands → semi-join docs on the id set → kernel) was
    // A/B-measured in r14 and REJECTED at the gate SFs — the checkpoint
    // barrier serializes three jobs and cost ~30% (sf0.1 one-JVM
    // interleaved: 1.04–1.15 s vs 0.76–0.84 s), while the whole-corpus
    // kernel is a trivially parallel single pass here. The at-scale
    // seam is [[jaccardVerifiedPairsHs]]: an incremental probe verifies
    // against the PERSISTED gram projection (Dedup corpus layout) and
    // never re-shingles the corpus at all — so the restriction would
    // only ever optimize the one form nobody runs at 100 TB.
    val hs = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TextHash.shingleHashSet(col("text")).as("hs"))
    jaccardVerifiedPairsHs(cands, hs, hs, minJac)
  }

  /** Same verification over PRE-BUILT (doc_id, hs) shingle-hash-set
    * frames for each side — the at-scale entry point: an incremental
    * probe supplies the standing corpus's PERSISTED gram projection here
    * (Dedup.writeCorpusDedupLayout), so verification never re-reads or
    * re-shingles the corpus text. */
  def jaccardVerifiedPairsHs(cands: DataFrame, hsA: DataFrame, hsB: DataFrame,
      minJac: Double): DataFrame =
    cands
      .join(hsA.select(col("doc_id").as("a_id"), col("hs").as("sha")), "a_id")
      .join(hsB.select(col("doc_id").as("b_id"), col("hs").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("a_id"), col("b_id"), col("jac"))

  /** Hamming-≤`maxHamming` pairs over a (doc_id, sig) frame via the
    * pigeonhole band join — the ONE implementation behind text SimHash
    * (d03) and image dHash (m03), so the subtle parts (band equality,
    * per-pair-once dedup, popcount filter) can never drift between
    * modalities. Requires maxHamming < nBands (pigeonhole: ≤ maxHamming
    * differing bits can ruin at most maxHamming bands).
    *
    * `bucketCap` guards against DEGENERATE signature pileup: constant
    * media (blank thumbnails, tracking pixels, solid placeholders) all
    * hash to the same signature, and m of them in one band bucket emit
    * m²/2 pairs — an output-size blowup no join strategy can split.
    * Buckets holding more members than the cap are excluded from pair
    * generation (the d04 df-cap contract: pairs similar ONLY through a
    * degenerate bucket are exact-equality groups — route them through
    * d01-style hash grouping, whose output is linear, not pairwise).
    * Uncapped, dedup is the zero-exchange first-matching-band filter;
    * capped, surviving shared bands can differ from the XOR's first
    * match (a capped bucket may BE the first match), so the pair set is
    * deduped with a distinct over the cap-bounded candidates instead. */
  def hammingPairs(sig: DataFrame, bandBits: Int, nBands: Int,
      maxHamming: Int, bucketCap: Option[Long] = None): DataFrame = {
    require(maxHamming < nBands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < nBands ($nBands)")
    val banded0 = sig.select(col("doc_id"), col("sig"),
      explode(bandStructs(col("sig"), bandBits, nBands)).as("bs"))
      .select(col("doc_id"), col("sig"), col("bs.band").as("band"), col("bs.bv").as("bv"))
    def pairsOf(banded: DataFrame): DataFrame =
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.sig").bitwiseXOR(col("b.sig")).as("xor"), col("a.band").as("band"))
        .filter(bit_count(col("xor")) <= maxHamming)
    // Materialize the band frame ONCE before the self-join (the d02 r14
    // fix, same shape): each join side otherwise re-runs the signature
    // KERNEL feeding `sig` — d03's full-text SimHash, m03's image-decode
    // dHash — so the operator's dominant per-row cost was paid twice.
    // The checkpointed stream is narrow ((doc_id, sig, band, bv) —
    // nBands rows/doc of four scalars); on the capped path the window
    // output is what fans out, so the cut lands after the cap filter.
    bucketCap match {
      case None =>
        pairsOf(banded0.cut)
          .filter(col("band") === firstMatchingBand(col("xor"), bandBits, nBands))
          .select(col("a_id"), col("b_id"), bit_count(col("xor")).as("hamming"))
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bv"))
        val capped = banded0.withColumn("pop", count(lit(1)).over(w))
          .filter(col("pop") <= cap).drop("pop")
        pairsOf(capped.cut)
          .select(col("a_id"), col("b_id"), bit_count(col("xor")).as("hamming"))
          .distinct()
    }
  }
}
