package graft.operators

import graft.functions.VectorAvgAggregator
import graft.plans.{GraftExtensions, NearestCells}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor / similarity search over embedding columns
 * (SURVEY.md §2.11). Baseline: brute-force cosine top-k (one broadcast of
 * the query set, one linear scan — the right plan even at 100 TB when the
 * query set is small). Scale path: LSH-bucketed search, where candidates
 * come from signature-band equality joins instead of a cross product.
 */
object Similarity {

  /** Cosine top-k neighbors of one stored vector (`queryId`), excluding
    * itself. The single query row is broadcast; the scan is one pass. */
  def topKForId(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, kTop: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", GraftExtensions.graftCosine(emb.sparkSession, col(vecCol), col("__qvec")))
      .select(col(idCol), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(kTop)
  }

  /** Brute-force cosine top-k for a whole (small, broadcastable) query set:
    * returns per-query ranked neighbors via window row_number. Ranking uses
    * the ROUNDED cosine (ties broken by neighbor id) so the order — and
    * therefore the emitted rank — is engine-agnostic and oracle-stable. */
  def topKForQueries(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, qVecCol: String, kTop: Int): DataFrame = {
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("cos",
        round(GraftExtensions.graftCosine(emb.sparkSession, col(vecCol), col(qVecCol)), 4))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
      .select(col(qIdCol).as("query_id"), col(idCol).as("neighbor_id"),
        col("cos").as("cos_sim"), col("rank"))
  }

  /**
   * Random-hyperplane LSH signatures, relationally: posexplode the vector
   * once, compute all `bits` signed projections as codegen'd conditional
   * sums in ONE hash-aggregate (map-side partials, single shuffle), then
   * pack sign bits. Same plan shape as Dedup.minHashSignatures — the
   * nested fold formulation (VectorFunctions.lshSignature) is kept for
   * small/columnar use but is interpreted and per-row serial.
   */
  def lshSignatures(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, seed: Int = 42): DataFrame = {
    val parts = emb.select(col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("d", "x")))
    val projs = (0 until bits).map { j =>
      sum(when(pmod(xxhash64(lit(seed), lit(j) * 65537 + col("d")), lit(2)) === 0,
        col("x").cast("double")).otherwise(-col("x").cast("double"))).as(s"p$j")
    }
    parts.groupBy(col("id"))
      .agg(projs.head, projs.tail: _*)
      .select(col("id"),
        (0 until bits).map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, c) => a.bitwiseOR(c)).as("sig"))
  }

  /**
   * Sketch-and-verify similarity-pair mining: wide sign sketches
   * ([[graft.plans.FloatVecSimSig]], default 512 bits = 8 longs) compared
   * with codegen'd xor+popcount; pairs whose ESTIMATED cosine
   * (cos(π·hamming/bits)) clears `minEstCos` are re-ranked with the exact
   * codegen cosine.
   *
   * Why not banded LSH: measured on this corpus (rounds 3 and 5), the
   * embeddings are isotropic — qualifying pairs (cos ≥ 0.45) agree per
   * bit at only p ≈ 0.65 vs 0.5 for noise, so any band of w bits passes
   * neighbors at p^w vs noise at 0.5^w — a nearly flat ROC. The round-5
   * sweep measured the full construction the banded path would use,
   * INCLUDING rotated multi-probe (the pigeonhole trick simHashPairs
   * uses): recall at the 0.45 exact threshold was 0.65 at w=8 (13%
   * candidate rate — no better than the sketch cut), and ≤ 0.07 for
   * every config with real pruning (w=16/32, 1–8 rotations). Banding is
   * not registrable at any operating point on isotropic data.
   *
   * What DOES cut candidates is a WIDER sketch: estimate error is
   * binomial, σ_cos ≈ π·sin θ·√(p(1−p)/bits) — 0.083 at 256 bits but
   * 0.059 at 512 — so the cut moves up with the same per-pair miss
   * probability. Measured (round 5, both sf0.01 and sf0.1): 512 bits at
   * minEstCos = 0.25 keeps recall 1.00 of all cos ≥ 0.45 pairs (min
   * qualifying estimate 0.33) while passing only 3.8% of the pair space —
   * 4.4× fewer candidates than the former 256-bit/0.15 config at the
   * same statistical margin (Z ≈ −3.4 for a true-0.45 pair).
   *
   * Scale shape: the sketch pass moves 64 bytes/vector instead of 256
   * (dim 64), and the verify pass is linear in surviving candidates.
   * The pair enumeration itself is a BLOCK-MATRIX self-join, not a
   * broadcast nested-loop: each vector's sketch is assigned a block
   * b = hash(id) mod `numBlocks`, the (bx ≤ by) block-pair relation is
   * broadcast (numBlocks² rows, trivial), and the sketch table shuffles
   * to (bx, by) tasks — (n/m)² comparisons per task, m(m+1)/2 tasks
   * (same-block tasks cost ~2× a cross-block task; see
   * [[blockPairRows]]), O(n·m) shuffled sketch rows, and NO executor ever holds the
   * whole table (the BNLJ formulation broadcasts it, an OOM at 100 TB;
   * numBlocks derives from input size so a block stays task-sized as n
   * grows — see [[resolveBlocks]]). The quadratic
   * comparison count is irreducible on isotropic data — every pair must
   * be estimated — but it runs at 64 bytes/row inside one codegen stage.
   * On corpora with real cluster structure, raise minEstCos to prune
   * harder; the bucketed alternative is [[ivfIndex]]/[[ivfPairs]].
   */
  def annPairs(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int = 512, minEstCos: Double = 0.25, minCos: Double = 0.0,
      seed: Long = 42L, numBlocks: Int = 0): DataFrame =
    verifyPairs(emb, idCol, vecCol,
      sketchCandidates(emb, idCol, vecCol, bits, minEstCos, seed, numBlocks), minCos)

  /** The sketch-stage candidate relation (id_a, id_b) of [[annPairs]]. */
  private def sketchCandidates(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, minEstCos: Double, seed: Long, numBlocks: Int): DataFrame =
    sketchEstRows(emb, idCol, vecCol, bits, seed, numBlocks, "ann_sigs")
      .filter(col("est_cos") >= minEstCos)
      .select(least(col("xid"), col("yid")).as("id_a"),
        greatest(col("xid"), col("yid")).as("id_b"))

  /** Measurement companion to [[annPairs]] (SCALE.md 100× rehearsal): one
    * quadratic sketch pass binning est-cos into `binWidth` buckets —
    * every `minEstCos` operating point's candidate count from a SINGLE
    * block-matrix scan, instead of one quadratic run per cut. Shares
    * [[sketchEstRows]] with the operator it measures, so it can never
    * silently measure a different estimator (round-12 review). Returns
    * (bin, pairs) where bin is the inclusive lower est-cos edge. */
  private[graft] def sketchEstHistogram(emb: DataFrame, idCol: String,
      vecCol: String, bits: Int = 512, binWidth: Double = 0.05,
      seed: Long = 42L, numBlocks: Int = 0): DataFrame =
    sketchEstRows(emb, idCol, vecCol, bits, seed, numBlocks, "ann_hist_sigs")
      .select((floor(col("est_cos") / lit(binWidth)) * lit(binWidth)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("pairs"))

  /** ONE estimated-cosine block pass — the shared sketch core of
    * [[sketchCandidates]] and [[sketchEstHistogram]]: (xid, yid, est_cos)
    * for every unordered pair. The sketch table is SPILLED before the
    * block-pair replication: left inline, the O(bits·dim) graft_simsig
    * expression lands below the replicating join and its inferred
    * isnotnull filter, and executes ~2·numBlocks× per vector (measured
    * round 6: 6.6 s vs 2.0 s for q_embed_ann at sf0.1 — the sig
    * recomputation, not the shuffle, was the whole round-5 "block-matrix
    * regression"). Writing sketches once is also the 100 TB shape: the
    * quadratic stage re-reads 72 B/row instead of re-deriving 512
    * projections per replica. */
  private def sketchEstRows(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, seed: Long, numBlocks: Int, tag: String): DataFrame = {
    val spark = emb.sparkSession
    val words = bits / 64
    val sigs = Materialize.viaParquet(
      emb.select(col(idCol).as("id"),
        GraftExtensions.graftSimSig(spark, col(vecCol), bits, seed).as("p")),
      tag)
    val hamming = (0 until words).map(w =>
        bit_count(element_at(col("xp"), w + 1).bitwiseXOR(element_at(col("yp"), w + 1))))
      .reduce(_ + _)
    blockPairRows(sigs, resolveBlocks(emb, numBlocks))
      .withColumn("est_cos",
        cos(lit(math.Pi) * hamming.cast("double") / lit(bits.toDouble)))
      .select(col("xid"), col("yid"), col("est_cos"))
  }

  /** Shared exact-verification stage: join the candidate relation
    * (id_a, id_b) back to the vectors once per side, score with the
    * codegen cosine (4 dp), keep pairs clearing `minCos`. Linear in the
    * candidate count — every pair miner funnels through this one pass. */
  private def verifyPairs(emb: DataFrame, idCol: String, vecCol: String,
      cands: DataFrame, minCos: Double): DataFrame = {
    val spark = emb.sparkSession
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cands
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos_sim",
        round(GraftExtensions.graftCosine(spark, col("vec_a"), col("vec_b")), 4))
      .filter(col("cos_sim") >= minCos)
      .select("id_a", "id_b", "cos_sim")
  }

  /**
   * Exact all-pairs cosine in its 100 TB shape: the same block-matrix
   * enumeration as [[annPairs]] — no broadcast of the table (the former
   * `a.join(broadcast(b), id_a < id_b)` BNLJ held the whole side on every
   * executor, an OOM at scale), O(n·m) shuffled rows, (n/m)² dot products
   * per task. Norms are hoisted out of the quadratic stage: computed once
   * per vector scan-side, so each pair pays ONE dot product; multiplication
   * is commutative and [[graft.plans.FloatVecDot]] accumulates by index, so
   * the score is bit-identical to the fused `graft_cosine` regardless of
   * which side of the block pair a vector lands on.
   */
  def exactCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double = -1.0, numBlocks: Int = 0): DataFrame =
    scoredBlockPairs(emb, idCol, vecCol, numBlocks)
      .select(least(col("xid"), col("yid")).as("id_a"),
        greatest(col("xid"), col("yid")).as("id_b"), col("cos_sim"))
      .filter(col("cos_sim") >= minCos)

  /** The candidate tier [[cosinePairsAuto]] selected. */
  sealed trait CosineTier
  object CosineTier {
    /** Block-matrix exact enumeration — small corpora, or thresholds
      * below every pruning tier's recall guarantee. */
    case object Exact extends CosineTier
    /** 512-bit sketch cut + exact verify — the measured recall-1.0
      * operating point for cos ≥ 0.45 on ANY structure (isotropic
      * included). */
    case object SketchAnn extends CosineTier
    /** Two-level IMI candidates + exact verify — the clustered
      * near-dup regime (cos ≥ 0.9), O(n·√k) assignment. */
    case object Imi extends CosineTier
  }

  /**
   * The vector-side switchover rule AS CODE (round 14 — the text twin is
   * [[Dedup.chooseNearDupTier]]; previously the [[annPairs]]/[[imiPairs]]
   * scaladocs asked the USER to pick):
   *
   *   - `nDocs ≤ bruteMaxDocs` (default 2·10⁴ — the sf1 regime where the
   *     block-matrix exact pass measures ~2 s) → [[CosineTier.Exact]]:
   *     below that, no index amortizes its build.
   *   - else `minCos ≥ 0.9` → [[CosineTier.Imi]]: the near-dup regime —
   *     the registered semantic-dedup feed, O(n·√k) assignment + Σf²
   *     product cells; recall 1.0 at both oracle gates, 0.9888–0.9982
   *     cross-engine at 100× (nAssign 2→3, SCALE.md round 14).
   *   - else `minCos ≥ 0.45` → [[CosineTier.SketchAnn]]: the 512-bit
   *     sketch at minEstCos = 0.25 keeps measured recall 1.00 of all
   *     cos ≥ 0.45 pairs with a 3.8% candidate rate, and unlike IMI it
   *     assumes NO cluster structure (banded LSH is unregistrable on
   *     isotropic data — the round-5 sweep).
   *   - else → [[CosineTier.Exact]]: below the sketch's statistical
   *     margin every pair must be scored; pretending otherwise would
   *     trade silent recall loss for speed.
   */
  def chooseCosineTier(nDocs: Long, minCos: Double,
      bruteMaxDocs: Long = 20000L): CosineTier =
    if (nDocs <= bruteMaxDocs) CosineTier.Exact
    else if (minCos >= 0.9) CosineTier.Imi
    else if (minCos >= 0.45) CosineTier.SketchAnn
    else CosineTier.Exact

  /** Largest corpus where IMI at nAssign = 2 has MEASURED recall 1.0:
    * the sf1 sampled gate (2·10⁴ vectors), cross-engine (SCALE.md r13/
    * r14). Above it the measured curve is the 2·10⁵-vector DuckDB slice. */
  val ImiRecallOneMaxDocs: Long = 20000L
  /** The r14 cross-engine (DuckDB-anti-joined) IMI recall measurements
    * at 2·10⁵ vectors — the numbers [[chooseImiNAssign]] trades against. */
  val ImiRecallAt2Large: Double = 0.9888
  val ImiRecallAt3Large: Double = 0.9982
  /** Default recall floor for the facade: above the measured-1.0 regime
    * it forces the nAssign = 3 operating point (0.9982 ≥ 0.99 ≥ 0.9888). */
  val ImiDefaultRecallFloor: Double = 0.99

  /**
   * The IMI OPERATING-POINT rule as code (round 15 — the r14 verdict:
   * "the rule that picks the TIER should also pick the OPERATING
   * POINT"): nAssign from corpus size and a recall floor, anchored to
   * the measured curve rather than a fixed default —
   *
   *   - `nDocs ≤ 2·10⁴` → nAssign = 2: recall MEASURED 1.0 at both
   *     oracle gates (sf0.01 full, sf1 sampled — cross-engine,
   *     value-for-value).
   *   - else recall floor ≤ 0.9888 → nAssign = 2 (the measured
   *     2·10⁵-vector DuckDB-sliced recall; 30.0 s wall at 100×).
   *   - else floor ≤ 0.9982 → nAssign = 3 (measured 0.9982 on the same
   *     slice; ~5.8× the pair-stage wall — nAssign² product cells).
   *   - else → REFUSE: no measured IMI operating point certifies a
   *     higher floor; silently running one would be the exact recall
   *     dishonesty this rule exists to prevent. Use
   *     [[exactCosinePairs]] (or measure a higher point first).
   */
  def chooseImiNAssign(nDocs: Long,
      recallFloor: Double = ImiDefaultRecallFloor): Int = {
    require(recallFloor > 0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    if (nDocs <= ImiRecallOneMaxDocs) 2
    else if (recallFloor <= ImiRecallAt2Large) 2
    else if (recallFloor <= ImiRecallAt3Large) 3
    else throw new IllegalArgumentException(
      f"recallFloor $recallFloor exceeds the highest MEASURED IMI operating " +
        f"point ($ImiRecallAt3Large at nAssign = 3, 2e5 vectors, SCALE.md r14) " +
        "at this corpus size — use exactCosinePairs, or certify a higher point")
  }

  /**
   * Auto-switching cosine-pair facade — the vector twin of
   * [[Dedup.nearDupPairs]]: one corpus stat (`count()`, skipped when
   * `nDocsHint` carries the catalog's row count — the 100 TB posture)
   * picks the tier; every tier already exact-verifies into the same
   * (id_a, id_b, cos_sim ≥ minCos) contract, so the facade emits
   * identical rows to the tier invoked directly (spec-pinned per
   * branch), and — in the regimes where the generators' measured recall
   * is 1.0 — identical to the exact enumeration (the DuckDB oracle's
   * formulation; `q_embed_auto` gates the IMI branch at sf0.01 in full
   * and at 10× through the sampled slice).
   *
   * The IMI branch's OPERATING POINT scales with the corpus (round 15,
   * [[chooseImiNAssign]]): nAssign = 2 where recall is measured 1.0
   * (≤ 2·10⁴ vectors — every oracle gate), nAssign = 3 above it under
   * the default 0.99 `imiRecallFloor` (measured 0.9982 vs 0.9888 at
   * 2·10⁵ vectors, cross-engine), and a floor past the measured curve
   * throws instead of silently under-delivering. Precision is 1.0 on
   * every branch regardless — the exact-verify stage scores each
   * candidate — so the floor trades only recall against the nAssign²
   * pair-stage cost.
   */
  def cosinePairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double, bruteMaxDocs: Long = 20000L,
      nDocsHint: Option[Long] = None,
      imiRecallFloor: Double = ImiDefaultRecallFloor): DataFrame = {
    val n = nDocsHint.getOrElse(emb.count())
    chooseCosineTier(n, minCos, bruteMaxDocs) match {
      case CosineTier.Exact => exactCosinePairs(emb, idCol, vecCol, minCos)
      case CosineTier.SketchAnn => annPairs(emb, idCol, vecCol, minCos = minCos)
      case CosineTier.Imi => imiPairs(emb, idCol, vecCol,
        nAssign = chooseImiNAssign(n, imiRecallFloor), minCos = minCos)
    }
  }

  /** The DIRECTED exact neighbor relation (id, nbr, cos_sim) — every
    * unordered pair emitted in both orientations inside the one
    * block-matrix pass ([[scoredBlockPairs]]), so no all-pairs table is
    * ever materialized: downstream per-id rank cuts run as
    * WindowGroupLimit partials directly on the join output. */
  private def exactNeighborRows(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    scoredBlockPairs(emb, idCol, vecCol, 0)
      .select(explode(array(
        struct(col("xid").as("id"), col("yid").as("nbr")),
        struct(col("yid").as("id"), col("xid").as("nbr")))).as("e"), col("cos_sim"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"), col("cos_sim"))

  /** ONE scored block-matrix pass — the shared core of the two exact
    * paths (round-12 review: they had drifted into near-identical
    * copies): every unordered pair meets exactly once as (xid, yid,
    * cos_sim). Norms are hoisted and SPILLED per vector (same reason as
    * annPairs' sketch table: inline, the norm expression slides below
    * the replicating block join and recomputes per replica); the dot
    * accumulates by index, so the score is identical whichever side of
    * the block pair a vector lands on. */
  private def scoredBlockPairs(emb: DataFrame, idCol: String, vecCol: String,
      numBlocks: Int): DataFrame = {
    val spark = emb.sparkSession
    val gd = GraftExtensions.graftDot(spark, _: Column, _: Column)
    val rows = Materialize.viaParquet(
      emb.select(col(idCol).as("id"),
        struct(col(vecCol).as("vec"),
          sqrt(gd(col(vecCol), col(vecCol))).as("nrm")).as("p")),
      "pair_vecs")
    blockPairRows(rows, resolveBlocks(emb, numBlocks))
      .select(col("xid"), col("yid"),
        round(gd(col("xp.vec"), col("yp.vec")) /
          (col("xp.nrm") * col("yp.nrm")), 4).as("cos_sim"))
  }

  /**
   * The shared block-matrix unordered-pair relation. `rows` must carry
   * (`id`, payload `p`); each row lands in block hash(id) mod m, the
   * (bx ≤ by) block-pair relation is broadcast (m(m+1)/2 rows, trivial),
   * and rows shuffle to their block-pair tasks: (n/m)² comparisons per
   * task, m(m+1)/2 tasks (same-block tasks see ~2× the comparisons of a
   * cross-block task before the id filter — acceptable imbalance at m ≥
   * 16), O(n·m) shuffled rows, and NO executor ever holds the whole table.
   * An unordered pair {a,b} meets exactly once: in task (blk(a), blk(b)),
   * same-block ties broken by id. Output columns: xid, xp, yid, yp.
   */
  private def blockPairRows(rows: DataFrame, numBlocks: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val blockPairs = broadcast(
      (0 until numBlocks).flatMap(i => (i until numBlocks).map(j => (i, j)))
        .toDF("bx", "by"))
    val blk = pmod(xxhash64(col("id")), lit(numBlocks)).cast("int")
    val xs = rows.select(blk.as("bx"), col("id").as("xid"), col("p").as("xp"))
      .join(blockPairs, "bx")
    val ys = rows.select(blk.as("by"), col("id").as("yid"), col("p").as("yp"))
      .join(blockPairs, "by")
    xs.join(ys, Seq("bx", "by"))
      .filter(col("bx") < col("by") || col("xid") < col("yid"))
  }

  /** Target payload bytes per block — a block is one task's working set. */
  private val TargetBlockBytes = 64L * 1024 * 1024

  /**
   * Block count for the pair join, derived from the input's optimized-plan
   * size estimate (driver-side stats, no job — mirrors how
   * [[graft.sources.ParquetIO.merge]] sizes output files from input bytes):
   * m = clamp(bytes / 64 MB, 16, 1024). Raising m with n keeps a block
   * task-sized as data grows; the 1024 cap keeps the broadcast block-pair
   * relation trivial (≤ ~0.5M rows) — beyond it the quadratic pair space
   * itself, not the block size, is the binding constraint.
   */
  private def resolveBlocks(emb: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else {
      val bytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
      val m = (bytes / BigInt(TargetBlockBytes)).toLong + 1
      math.min(1024L, math.max(16L, m)).toInt
    }

  /**
   * IVF-style ANN (the classic inverted-file index): a k-means-lite
   * coarse quantizer trained by [[lloyd]] (LSH-seeded, `iters`
   * reassignments), vectors assigned to their nearest centroid cell.
   * Queries probe only `nProbe` cells — at 100 TB the cell assignment is
   * the partition key and a probe touches nProbe/k of the data.
   *
   * Returns the spilled (id, cell) assignments plus the (cell, d, c)
   * centroid table (the means of those assignments) for probing.
   */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3): (DataFrame, DataFrame) = {
    val rows = emb.select(col(idCol).as("id"), lit(0).as("key"), col(vecCol).as("v"))
    // one mean step more than reassignments: the returned centroids are
    // the means of the returned assignment
    val (books, cell) = lloyd(rows,
      lshSeed(emb.sparkSession, k, vecDim(emb, vecCol, "ivfIndex")), iters + 1)
    // an IVF index IS a materialized artifact: probes join it repeatedly
    val assign = Materialize.viaParquet(rows.select(col("id"), cell.as("cell")), "ivf_assign")
    (assign, centroidRows(emb.sparkSession, books, None))
  }

  /** Probe an IVF index: rank cells by query·centroid distance, search the
    * best `nProbe` cells exhaustively with the codegen cosine. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      assign: DataFrame, centroids: DataFrame,
      queryId: Long, kTop: Int, nProbe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    val qParts = emb.filter(col(idCol) === queryId)
      .select(posexplode(col(vecCol)).as(Seq("d", "qx")))
      .withColumn("qx", col("qx").cast("double"))
    val cellRank = centroids.join(broadcast(qParts), "d")
      .groupBy(col("cell"))
      .agg((sum(col("c") * col("c")) - lit(2.0) * sum(col("qx") * col("c"))).as("dist"))
      .orderBy(col("dist"), col("cell")).limit(nProbe)
      .select(col("cell"))
    val qVec = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__qvec"))
    emb.join(assign.withColumnRenamed("id", idCol), idCol)
      .join(broadcast(cellRank), "cell")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qVec))
      .withColumn("cos_sim",
        round(graft.plans.GraftExtensions.graftCosine(spark, col(vecCol), col("__qvec")), 4))
      .select(col(idCol), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(kTop)
  }

  /**
   * IVF-backed similarity-pair mining for CLUSTERED corpora: every vector
   * is multi-assigned to its `nAssign` nearest coarse cells, vectors
   * sharing a cell become candidates, candidates re-rank with the exact
   * codegen cosine. This is the bucketed complement to [[annPairs]]: on
   * corpora with real cluster structure the candidate set is
   * Σ_cell freq² ≪ n², while on isotropic data (like the synthetic
   * embeddings table — measured round 3) no partition of space can
   * separate neighbors and [[annPairs]]'s sketch estimate is the honest
   * path. IvfPairsSpec proves the recall claim on planted clusters.
   *
   * `k = 0` (the default) derives the cell count from corpus size:
   * k = clamp(n / 125, 16, 4096). At FIXED k the candidate space is
   * Σ_cell freq² = O(n²/k) — quadratic again as n grows (measured: 11×
   * wall at the 10× rehearsal with k=16). Cells must track n so
   * per-cell occupancy stays constant: then candidates are O(n·occ),
   * linear. The count shares one aggregate with the vector-length probe,
   * next to the Lloyd steps the index build already runs. With k ∝ n the ASSIGNMENT
   * stage scores n·k dots — the flat-quantizer wall; [[imiPairs]] is the
   * two-level form that drops it to O(n·√k) and (round 12) carries the
   * registered similarity queries.
   */
  def ivfPairs(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, iters: Int = 2, nAssign: Int = 2, minCos: Double = 0.0): DataFrame =
    verifyPairs(emb, idCol, vecCol,
      ivfCandidates(emb, idCol, vecCol, k, iters, nAssign), minCos)

  /** The co-residence candidate relation (id_a, id_b) of [[ivfPairs]]:
    * train the coarse quantizer (centroids only — pair mining never reads
    * a single-assignment table), multi-assign every vector to its
    * `nAssign` nearest cells, pair up cell cohabitants. */
  private def ivfCandidates(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, nAssign: Int): DataFrame = {
    val (kEff, dim) =
      if (k > 0) (k, vecDim(emb, vecCol, "ivfPairs"))
      else {
        val (n, d) = corpusShape(emb, vecCol, "ivfPairs")
        (math.min(4096L, math.max(16L, n / 125L)).toInt, d)
      }
    // train-then-multi-assign: every vector to its `nAssign` nearest of
    // `k` cells (n·k dots, the flat-quantizer cost [[imiCandidates]]
    // undercuts), spilled because the candidate self-join reads it twice
    val rows = emb.select(col(idCol).as("id"), lit(0).as("key"), col(vecCol).as("v"))
    val (books, _) = lloyd(rows, lshSeed(emb.sparkSession, kEff, dim), iters)
    val ma = Materialize.viaParquet(
      rows.select(col("id"), explode(nearest(emb.sparkSession, col("v"), books(0), nAssign))
        .as("cell")),
      "ivf_multiassign")
    ma.as("x").join(ma.as("y"), Seq("cell"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
  }

  /**
   * Two-level (inverted multi-index, Babenko & Lempitsky 2012 — public)
   * pair mining: the vector splits into two halves, each half gets its own
   * `kPerHalf`-cell quantizer, and a vector's effective cell is the PAIR
   * (left cell, right cell) — kPerHalf² product cells at an assignment
   * cost of n·2·kPerHalf dots, i.e. O(n·√k) where flat [[ivfPairs]] pays
   * n·k. This is the 100 TB answer to flat IVF's own honesty note: with
   * cells ∝ n the flat assignment stage is O(n²/c); the product quantizer
   * keeps the SAME Σ_cell freq² pair stage (over product cells) while the
   * assignment stage drops to O(n·√n). Default kPerHalf = ceil(√(n/20))
   * so product cells ≈ the n/20 clusters [[graft.PipelineQueries]]'s
   * corpus construction plants. Recall on clustered corpora: cluster
   * members share both half-cells WHEN each half-quantizer keeps the
   * cluster together — each half carries only half the anchor signal, so
   * the guarantee is softer than flat IVF's. MEASURED (ProfileR11 `imi`,
   * clustered corpus, cos ≥ 0.9): recall 1.0 at nAssign = 2 for
   * sf0.001/0.01/0.1, 0.9972 at the 10× rehearsal (0.99999 at
   * nAssign = 3). Since round 12 this IS the registered feed for
   * q_dedup_semantic / q_dedup_hybrid / q_knn_classify_ann — recall 1.0
   * at every oracle-gated SF means the verified output is identical to
   * the flat [[ivfPairs]] feed's there, at O(n·√k) assignment instead of
   * n·k; at the 10× rehearsal the epsilon closes with nAssign = 3
   * (SCALE.md). ImiPairsSpec pins ≥ 0.9 recall + real pruning on
   * planted clusters.
   */
  def imiPairs(emb: DataFrame, idCol: String, vecCol: String,
      kPerHalf: Int = 0, iters: Int = 2, nAssign: Int = 2,
      minCos: Double = 0.0): DataFrame =
    verifyPairs(emb, idCol, vecCol,
      imiCandidates(emb, idCol, vecCol, kPerHalf, iters, nAssign), minCos)

  /** The product-cell co-residence relation of [[imiPairs]]. */
  private def imiCandidates(emb: DataFrame, idCol: String, vecCol: String,
      kPerHalf: Int, iters: Int, nAssign: Int): DataFrame = {
    val (half, dim, k) = imiShape(emb, vecCol, kPerHalf)
    val books = trainHalves(emb, idCol, vecCol, half, dim, k, iters)
    // nAssign² product cells per vector; spilled for the same
    // consumed-twice reason as the flat assignment
    val product = Materialize.viaParquet(
      halfProduct(emb, idCol, vecCol, half, dim, books, nAssign), "imi_product")
    product.as("x").join(product.as("y"), Seq("cl", "cr"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
  }

  /** The length of the corpus's first vector: one tiny driver job, and a
    * loud error beats a cryptic failure on an empty corpus. */
  private def vecDim(emb: DataFrame, vecCol: String, op: String): Int = {
    val firstRow = emb.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(firstRow.nonEmpty, s"$op: empty embedding corpus")
    firstRow(0).getInt(0)
  }

  /** The corpus's row count and longest vector in ONE aggregate: the
    * count sizes an automatic k, the length bounds the seed hyperplanes
    * (and the IMI split). */
  private def corpusShape(emb: DataFrame, vecCol: String, op: String): (Long, Int) = {
    val r = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
    require(r.getLong(0) > 0, s"$op: empty embedding corpus")
    (r.getLong(0), r.getInt(1))
  }

  private def halfDims(dim: Int): (Int, Int) = {
    require(dim >= 2, s"imiPairs needs at least 2 dims, got $dim")
    (dim / 2, dim)
  }

  /** The IMI split (half, dim) and kPerHalf — by default ⌈√(n/20)⌉, at
    * least 4. */
  private def imiShape(emb: DataFrame, vecCol: String, kPerHalf: Int): (Int, Int, Int) =
    if (kPerHalf > 0) {
      val (half, dim) = halfDims(vecDim(emb, vecCol, "imiPairs"))
      (half, dim, kPerHalf)
    } else {
      val (n, d) = corpusShape(emb, vecCol, "imiPairs")
      val (half, dim) = halfDims(d)
      (half, dim, math.max(4, math.ceil(math.sqrt(n / 20.0)).toInt))
    }

  private def leftHalf(vec: Column, half: Int): Column = slice(vec, 1, half)
  private def rightHalf(vec: Column, half: Int, dim: Int): Column =
    slice(vec, half + 1, dim - half)

  /** Both half-vector quantizers of the IMI, trained by ONE [[lloyd]]
    * keyed by the half h ∈ {0, 1}: each half is seeded from the 16 LSH
    * sign projections of the HALF vector (half-local d) mod k; the longer
    * half bounds the hyperplanes. */
  private def trainHalves(emb: DataFrame, idCol: String, vecCol: String,
      half: Int, dim: Int, k: Int, iters: Int): Codebooks =
    lloyd(emb.select(col(idCol).as("id"), posexplode(array(
        leftHalf(col(vecCol), half), rightHalf(col(vecCol), half, dim))).as(Seq("key", "v"))),
      lshSeed(emb.sparkSession, k, dim - half), iters)._1

  /** The (id, cl, cr) product relation: the `nAssign` nearest cells of
    * each half, crossed — nAssign² rows per vector, no shuffle. */
  private def halfProduct(df: DataFrame, idCol: String, vecCol: String,
      half: Int, dim: Int, books: Codebooks, nAssign: Int): DataFrame = {
    val spark = df.sparkSession
    df.select(col(idCol).as("id"),
        nearest(spark, leftHalf(col(vecCol), half), books(0), nAssign).as("__l"),
        nearest(spark, rightHalf(col(vecCol), half, dim), books(1), nAssign).as("__r"))
      .select(col("id"), explode(col("__l")).as("cl"), col("__r"))
      .select(col("id"), col("cl"), explode(col("__r")).as("cr"))
  }

  /**
   * Incremental (Δ×corpus) ANN on the IMI index — the ingest-time shape of
   * [[imiPairs]], and the vector analogue of
   * [[Dedup.incrementalDedupFlags]]: per NEW vector, its `k` nearest
   * CORPUS vectors, without re-mining the corpus against itself. The two
   * half-quantizers train on the CORPUS ONLY (the index is a corpus
   * artifact; a Δ batch is quantized by it, never retrains it — at 100 TB
   * the centroid tables are maintained index state, built once per
   * compaction epoch). Work per ingest:
   *
   *   - batch assignment: |Δ|·2·√k dots (same O(·√k) shape the
   *     corpus assignment pays),
   *   - candidate join: batch product-cells × corpus product-cells —
   *     |Δ|·occupancy rows, LINEAR in |Δ| at constant per-cell occupancy,
   *     never |Δ|·n,
   *   - exact verify + per-id top-k window on candidates only.
   *
   * Emits (id, nbr, cos_sim) — `k` rows per new vector (fewer only if its
   * probed cells hold fewer corpus vectors), ranked by the 4-dp-rounded
   * exact cosine, ties to the lowest nbr. Recall has the same clustered-
   * geometry contract as [[imiPairs]]: a new vector near a corpus cluster
   * lands in that cluster's cells (measured recall 1.0 at the oracle
   * gates — q_ann_incremental is DuckDB-checked against the exact
   * brute-force top-k).
   */
  def imiIncrementalTopK(corpus: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, k: Int = 1, kPerHalf: Int = 0, iters: Int = 2,
      nAssign: Int = 2): DataFrame =
    imiQueryIndex(imiBuildIndex(corpus, idCol, vecCol, kPerHalf, iters, nAssign),
      batch, idCol, vecCol, k)

  /** The standing IMI index state: the half-centroid table (h, cell, d,
    * c), spilled corpus product-cell assignments, and the corpus vectors
    * for the exact-verify stage. Build ONCE per corpus epoch with
    * [[imiBuildIndex]]; every ingest batch then pays only its own
    * assignment + cell join via [[imiQueryIndex]] — the streaming sink
    * ([[graft.streaming.Streams.annEnrichSink]]) holds one of these
    * across micro-batches. */
  final case class ImiIndex(cents: DataFrame, corpusCells: DataFrame,
      corpusVecs: DataFrame, half: Int, dim: Int, nAssign: Int) {
    /** `cents` read back to the driver once — every batch assignment
      * binds these as its centroid literals. */
    @transient private[graft] lazy val books: Codebooks = booksOf(cents, "h")
  }

  /** Train the index state of [[imiIncrementalTopK]] — a corpus artifact,
    * independent of any batch. */
  def imiBuildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      kPerHalf: Int = 0, iters: Int = 2, nAssign: Int = 2): ImiIndex = {
    val (half, dim, k) = imiShape(corpus, vecCol, kPerHalf)
    val books = trainHalves(corpus, idCol, vecCol, half, dim, k, iters)
    indexOf(books, corpus, idCol, vecCol, half, dim, nAssign)
  }

  /** Rebuild an [[ImiIndex]] from a PERSISTED centroid table instead of
    * retraining (round 16): the streaming sinks persist `cents` under
    * their output dir at first creation, and a restarted sink must keep
    * quantizing under the SAME centroids its standing stream-state cell
    * assignments were written with — a retrain from a since-changed
    * corpus would silently shift the cell space and cross-restart
    * neighbors would stop colliding. The corpus assignments ARE
    * re-derived here (the current corpus under the frozen quantizer),
    * so corpus refreshes keep working; only the cell GEOMETRY is pinned
    * until an explicit index-rebuild epoch. */
  def imiBuildIndexFrom(cents: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, nAssign: Int = 2): ImiIndex = {
    val (half, dim) = halfDims(vecDim(corpus, vecCol, "imiPairs"))
    indexOf(booksOf(cents, "h"), corpus, idCol, vecCol, half, dim, nAssign)
  }

  /** An index over trained half codebooks; its `cents` is their local
    * (h, cell, d, c) table, so reading them back costs no job. */
  private def indexOf(books: Codebooks, corpus: DataFrame, idCol: String,
      vecCol: String, half: Int, dim: Int, nAssign: Int): ImiIndex =
    ImiIndex(centroidRows(corpus.sparkSession, books, Some("h")),
      Materialize.viaParquet(halfProduct(corpus, idCol, vecCol, half, dim, books, nAssign),
        "inc_corp_cells"),
      corpus.select(col(idCol).as("nbr"), col(vecCol).as("cvec")),
      half, dim, nAssign)

  /** Quantize a batch with a PRE-BUILT index — the (id, cl, cr)
    * product-cell relation, |Δ|·2·√k dots, not spilled (one
    * consumer decides). Round 15: exposed so the streaming dedup sinks
    * can APPEND each committed micro-batch's assignments to their
    * standing cell table (the Δ×Δ fix) without re-quantizing history. */
  private[graft] def imiAssignWithIndex(index: ImiIndex, df: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    halfProduct(df, idCol, vecCol, index.half, index.dim, index.books, index.nAssign)

  /** Per new vector in `batch`, its top-`k` corpus neighbors through a
    * pre-built [[ImiIndex]] — |Δ|-sized work only: batch assignment
    * (|Δ|·2·√k dots), cell join against the spilled corpus
    * assignments, exact verify, bounded per-id rank. */
  def imiQueryIndex(index: ImiIndex, batch: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val spark = batch.sparkSession
    val batProduct = imiAssignWithIndex(index, batch, idCol, vecCol)
    val cands = batProduct.as("q").join(index.corpusCells.as("c"), Seq("cl", "cr"))
      .filter(col("q.id") =!= col("c.id"))
      .select(col("q.id").as("id"), col("c.id").as("nbr")).distinct()
    val qVecs = batch.select(col(idCol).as("id"), col(vecCol).as("qvec"))
    val scored = cands.join(qVecs, "id").join(index.corpusVecs, "nbr")
      .withColumn("cos_sim",
        round(GraftExtensions.graftCosine(spark, col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos_sim").desc, col("nbr"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("id"), col("nbr"), col("cos_sim"))
  }

  /**
   * Multi-index pair mining: candidates from the IVF coarse quantizer
   * (structural pruning — wins on clustered corpora) UNION the wide-sketch
   * estimate cut (statistical pruning — the only thing that works on
   * isotropic corpora), funneled through ONE exact-verification pass.
   * With the sketch cut at a measured recall-1.0 operating point the
   * verified output equals the exact pair set at `minCos` by
   * construction, whatever the quantizer did — the pair-shaped analogue
   * of q_embed_ivf's nProbe = k completeness trick.
   */
  def multiIndexPairs(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, iters: Int = 2, nAssign: Int = 2,
      bits: Int = 512, minEstCos: Double = 0.25, minCos: Double = 0.0): DataFrame =
    verifyPairs(emb, idCol, vecCol,
      ivfCandidates(emb, idCol, vecCol, k, iters, nAssign)
        .unionByName(sketchCandidates(emb, idCol, vecCol, bits, minEstCos, 42L, 0))
        .distinct(),
      minCos)

  /** A trained quantizer: per key (IMI half, PQ subspace; 0 for a flat
    * IVF), its populated cells' double means, ascending by cell. */
  private[graft] type Codebooks = Map[Int, Seq[(Int, Array[Double])]]

  /**
   * The one Lloyd kernel behind [[ivfIndex]], [[ivfPairs]], [[imiPairs]]
   * and [[pqEncode]]: k-means over the (`key`, `v` array<float>) rows of
   * `rows`, with every key's quantizer trained in the same plan. `seed`
   * is each row's first cell; `steps` mean steps run, with a reassignment
   * between consecutive ones.
   *
   * A mean step is ONE groupBy(key, cell) vector-mean aggregate
   * ([[graft.functions.VectorAvgAggregator]], double sums) whose k·d
   * result is collected to the driver. A reassignment is
   * `graft_nearest_cells` against those means bound as a literal
   * ([[NearestCells]]), evaluated per row inside the next step's scan:
   * no per-dimension explode, no (vector × cell) rows, no join, and no
   * centroid spill. The driver holds k·d doubles per key, which every
   * caller bounds (SCALE.md).
   *
   * Returns the last step's means and the cell column they were averaged
   * over (the seed when `steps` = 1).
   */
  private def lloyd(rows: DataFrame, seed: Column, steps: Int): (Codebooks, Column) = {
    val spark = rows.sparkSession
    var cell = seed
    var books: Codebooks = Map.empty
    for (i <- 0 until math.max(1, steps)) {
      if (i > 0) cell = nearestCell(spark, books)
      books = rows.select(col("key"), cell.as("cell"), col("v"))
        .groupBy(col("key"), col("cell")).agg(vecAvg(col("v")).as("c"))
        .collect().toSeq
        .groupBy(_.getInt(0))
        .map { case (key, rs) =>
          key -> rs.map(r => (r.getInt(1), r.getSeq[Double](2).toArray)).sortBy(_._1)
        }
    }
    (books, cell)
  }

  private lazy val vecAvg = udaf(VectorAvgAggregator)

  /** The IVF/IMI seed cell of a `v` of at most `dim` elements: its 16 LSH
    * sign bits ([[graft.functions.VectorFunctions.lshSignature]], seed
    * 42) mod k. Each ±1 hyperplane is evaluated once on the driver and
    * bound as a float literal, so a projection is one codegen'd
    * `graft_dot` instead of an interpreted fold. x·(±1) is exact and the
    * dot sums in dimension order from 0.0, so every bit equals the
    * fold's. */
  private def lshSeed(spark: org.apache.spark.sql.SparkSession, k: Int, dim: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val sig = (0 until 16).map { j =>
      val plane = Array.tabulate(dim) { d =>
        val h = XxHash64(Seq(Literal(42), Literal(j * 65537 + d)), 42L).eval().asInstanceOf[Long]
        if (java.lang.Math.floorMod(h, 2L) == 0L) 1.0f else -1.0f
      }
      when(GraftExtensions.graftDot(spark, col("v"), lit(plane)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    pmod(sig, lit(k)).cast("int")
  }

  /** The `n` nearest of `cells` to `v`, nearest first ([[NearestCells]]). */
  private def nearest(spark: org.apache.spark.sql.SparkSession, v: Column,
      cells: Seq[(Int, Array[Double])], n: Int): Column =
    GraftExtensions.graftNearestCells(spark, v, NearestCells.encode(cells), n)

  /** Per (`key`, `v`) row, the nearest cell of its key's codebook. */
  private def nearestCell(spark: org.apache.spark.sql.SparkSession, books: Codebooks): Column = {
    val byKey = books.toSeq.sortBy(_._1).map { case (k, cells) =>
      (k, nearest(spark, col("v"), cells, 1).getItem(0))
    }
    if (byKey.size == 1) byKey.head._2
    else byKey.tail.foldLeft(when(col("key") === byKey.head._1, byKey.head._2)) {
      case (acc, (k, e)) => acc.when(col("key") === k, e)
    }
  }

  /** Codebooks as the long (key, cell, d, c) centroid table, without the
    * key column when `keyCol` is None — a local relation, no job. */
  private def centroidRows(spark: org.apache.spark.sql.SparkSession, books: Codebooks,
      keyCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = for {
      (key, cells) <- books.toSeq.sortBy(_._1)
      (cell, c) <- cells
      d <- c.indices
    } yield Row.fromSeq(keyCol.map(_ => key).toSeq ++ Seq[Any](cell, d, c(d)))
    val schema = StructType(keyCol.map(StructField(_, IntegerType)).toSeq ++ Seq(
      StructField("cell", IntegerType), StructField("d", IntegerType),
      StructField("c", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The inverse of [[centroidRows]]: a (keyCol, cell, d, c) table read
    * back to the driver. */
  private def booksOf(cents: DataFrame, keyCol: String): Codebooks =
    cents.select(col(keyCol).cast("int"), col("cell").cast("int"), col("d").cast("int"),
        col("c").cast("double"))
      .collect().toSeq
      .groupBy(_.getInt(0))
      .map { case (key, rs) =>
        key -> rs.groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (cell, ds) =>
          (cell, ds.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
        }
      }

  /** Per-group vector mean (centroids) — posexplode + groupBy, the
    * distributed formulation of a vector-average aggregate: partial sums
    * combine map-side, nothing is collected. */
  def centroids(emb: DataFrame, groupCol: String, vecCol: String): DataFrame =
    emb.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("v").cast("double")).as("mean_v"))

  /**
   * Product quantization (Jégou et al., TPAMI 2011 — public): the d-dim
   * vector splits into `m` subspaces of d/m dims, each with its own
   * k-entry codebook trained by the SAME [[lloyd]] as [[ivfIndex]], keyed
   * by subspace — all m codebooks train in one plan with no per-subspace
   * driver loop. Seeds are xxhash64(subvector) mod k. A vector encodes as
   * m small codes: d·4 bytes → m·1 bytes at k ≤ 256 (32× here vs int8's
   * 4×).
   *
   * Returns (codes (id, sub, cell), codebook (sub, cell, cvec, cc), dim):
   * the codes are a parquet-spilled index artifact like [[ivfIndex]]'s
   * assignments, the codebook (the means of those codes) a local table,
   * and the measured dimensionality rides along so downstream helpers
   * ([[pqReconstructionRmse]], [[pqTopK]]) never re-run a driver job to
   * learn it.
   */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2): (DataFrame, DataFrame, Int) = {
    val spark = emb.sparkSession
    val dim = vecDim(emb, vecCol, "pqEncode")
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val subs = emb.select(col(idCol).as("id"), posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("key", "v")))
    val (books, cell) = lloyd(subs,
      pmod(xxhash64(col("v")), lit(k)).cast("int"), iters + 1)
    val codes = Materialize.viaParquet(
      subs.select(col("id"), col("key").as("sub"), cell.as("cell")), "pq_codes")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bookRows = for {
      (sub, cells) <- books.toSeq.sortBy(_._1)
      (c, mean) <- cells
    } yield Row(sub, c, mean.map(_.toFloat), NearestCells.squaredNorm(mean))
    val book = spark.createDataFrame(java.util.Arrays.asList(bookRows: _*), StructType(Seq(
      StructField("sub", IntegerType), StructField("cell", IntegerType),
      StructField("cvec", ArrayType(FloatType)), StructField("cc", DoubleType))))
    (codes, book, dim)
  }

  /** Per-vector reconstruction RMSE of a PQ encoding: decode = the
    * centroid of each subspace's code, error accumulated with one
    * `zip_with` per (vector, subspace) row — no per-dimension explosion.
    * `dim` comes from [[pqEncode]] — no driver job here. */
  def pqReconstructionRmse(emb: DataFrame, idCol: String, vecCol: String,
      codes: DataFrame, book: DataFrame, m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    val subs = emb.select(col(idCol).as("id"), posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("sub", "svec")))
    subs.join(codes, Seq("id", "sub"))
      .join(broadcast(book), Seq("sub", "cell"))
      .select(col("id"),
        aggregate(zip_with(col("svec"), col("cvec"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, e) => acc + e).as("sqe"))
      .groupBy(col("id"))
      .agg(sqrt(sum(col("sqe")) / lit(dim.toDouble)).as("rmse"))
  }

  /**
   * ADC (asymmetric distance) top-k over a PQ-encoded corpus: the query
   * stays float, each (sub, cell) gets a precomputed partial squared
   * distance ‖q_s − c_{s,cell}‖² in an m·k lookup table (broadcast), and
   * a corpus vector's approximate distance is the SUM of its m code
   * lookups — an equi-join on (sub, cell) plus one hash aggregate whose
   * partial side combines a vector's m rows map-side. The corpus FLOATS
   * are never read: search touches only the m-byte codes, which is what
   * makes PQ a storage win at 100 TB. Exact on corpora the codebook
   * reconstructs exactly (PqSpec); approximate otherwise — re-rank the
   * top candidates with [[topKForId]] over the float column when exact
   * order matters.
   */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      codes: DataFrame, book: DataFrame, m: Int, dim: Int,
      queryId: Long, kTop: Int): DataFrame = {
    val spark = emb.sparkSession
    val subDim = dim / m
    val qsubs = emb.filter(col(idCol) === queryId).select(posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("sub", "qsvec")))
    val gd = GraftExtensions.graftDot(spark, _: Column, _: Column)
    val qtab = book.join(broadcast(qsubs), "sub")
      .select(col("sub"), col("cell"),
        (col("cc") - lit(2.0) * gd(col("qsvec"), col("cvec")) +
          gd(col("qsvec"), col("qsvec"))).as("pdist"))
    codes.filter(col("id") =!= queryId)
      .join(broadcast(qtab), Seq("sub", "cell"))
      .groupBy(col("id"))
      .agg(round(sum(col("pdist")), 4).as("approx_dist"))
      .orderBy(col("approx_dist"), col("id"))
      .limit(kTop)
  }

  /**
   * ADC consistency check against the exact top-k (the oracle-able form
   * of PQ search): emits the EXACT cosine top-k (membership, order and
   * score all engine-independent) and, per row, a flag asserting the
   * triangle-inequality invariant every correct ADC implementation must
   * satisfy: the ADC distance is EXACTLY ‖q − ĉ(v)‖² (ĉ = the codebook
   * reconstruction, subspaces concatenate orthogonally), hence
   * |√adc − ‖q−v‖| ≤ ‖v − ĉ(v)‖ by the triangle inequality — a theorem,
   * not a measured operating point, so the flag is corpus-independent
   * and DuckDB-oracle-able as a constant-1 column. A wrong lookup join,
   * sign error or subspace misalignment breaks it. ADC *ranking* quality
   * (top-k from codes alone) stays pinned by PqSpec, where
   * reconstruction is exact and ADC order must equal brute force.
   *
   * Cost shape: the ADC side is the same broadcast m·k lookup + map-side
   * combined sum as [[pqTopK]] (codes only, floats never shuffled); the
   * exact side is the same single broadcast-query scan as [[topKForId]].
   */
  def pqAdcCheck(emb: DataFrame, idCol: String, vecCol: String,
      codes: DataFrame, book: DataFrame, m: Int, dim: Int,
      queryId: Long, kTop: Int): DataFrame = {
    val spark = emb.sparkSession
    val subDim = dim / m
    val gd = GraftExtensions.graftDot(spark, _: Column, _: Column)
    val qsubs = emb.filter(col(idCol) === queryId).select(posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("sub", "qsvec")))
    val qtab = book.join(broadcast(qsubs), "sub")
      .select(col("sub"), col("cell"),
        (col("cc") - lit(2.0) * gd(col("qsvec"), col("cvec")) +
          gd(col("qsvec"), col("qsvec"))).as("pdist"))
    val adc = codes.filter(col("id") =!= queryId)
      .join(broadcast(qtab), Seq("sub", "cell"))
      .groupBy(col("id")).agg(sum(col("pdist")).as("adc_dist"))
    val errn = pqReconstructionRmse(emb, idCol, vecCol, codes, book, m, dim)
      .select(col("id"), (col("rmse") * math.sqrt(dim.toDouble)).as("err_norm"))
    val qv = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__qvec"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col(idCol).as("id"),
        round(GraftExtensions.graftCosine(spark, col(vecCol), col("__qvec")), 4).as("cos_sim"),
        sqrt(greatest(lit(0.0),
          gd(col(vecCol), col(vecCol)) + gd(col("__qvec"), col("__qvec"))
            - lit(2.0) * gd(col(vecCol), col("__qvec")))).as("dist"))
      .join(adc, "id").join(errn, "id")
      .select(col("id"), col("cos_sim"),
        (abs(sqrt(greatest(col("adc_dist"), lit(0.0))) - col("dist"))
          <= col("err_norm") + lit(1e-5)).cast("int").as("adc_ok"))
      .orderBy(col("cos_sim").desc, col("id"))
      .limit(kTop)
  }

  /**
   * kNN majority-vote label propagation — the auto-labeling /
   * quality-classifier step of a training-data pipeline: each vector is
   * assigned the majority label of its `k` nearest neighbors by cosine.
   * Exact baseline built on the same block-matrix pair enumeration as
   * [[exactCosinePairs]] (no full-table broadcast); the scale path for
   * the neighbor search is [[ivfPairs]]/[[annPairs]] feeding the same
   * vote aggregate. Every ordering is total — neighbors rank by
   * (cos desc, neighbor id), votes by (count desc, mean cos desc, label)
   * — so the prediction is deterministic and oracle-expressible.
   *
   * Plan shape: one quadratic block join (O(n·m) shuffle), one window
   * per vector id (top-k cut), one hash aggregate (votes), one 1-row
   * window cut. No step holds more than a block or a vector's k rows.
   * The vote tie-break sums the 4-dp cosine SCALED TO AN EXACT LONG
   * (×10⁴, round) — an integer, so cross-engine float-summation order
   * can never flip a rank the way a mean-of-doubles could.
   *
   * `candidates` swaps the O(n²) exact pair stage for a mined candidate
   * relation (`id_a`, `id_b`, `cos_sim` — e.g. [[ivfPairs]] on clustered
   * corpora, [[annPairs]] on isotropic ones): the vote pipeline is
   * unchanged, and predictions match the exact path wherever the miner's
   * candidate set contains each vector's true top-k (KnnClassifySpec
   * pins this on planted clusters). That is the 100 TB formulation —
   * the 10× rehearsal measured the exact baseline at 14× wall on 10×
   * data, the honest quadratic no candidate cut can fix from inside.
   */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 5,
      candidates: Option[DataFrame] = None): DataFrame = {
    val sym = candidates match {
      case Some(c) =>
        // spilled: the symmetric union reads the candidate relation TWICE
        // — inline, the generator's whole sketch/quantizer pipeline would
        // execute once per union branch
        val pairs = Materialize.viaParquet(c, "knn_pairs")
        pairs.select(col("id_a").as("id"), col("id_b").as("nbr"), col("cos_sim"))
          .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nbr"), col("cos_sim")))
      case None =>
        // exact path (round 12): emit BOTH orientations inside the one
        // quadratic block-join pass instead of spilling the full n²/2
        // pair relation to parquet and re-reading it twice — the
        // all-pairs table never materializes anywhere, and the rank ≤ k
        // cut below runs as WindowGroupLimit partials BEFORE the id
        // exchange, so ≤ k rows per (id, task) ever shuffle
        exactNeighborRows(emb, idCol, vecCol)
    }
    val wNbr = Window.partitionBy(col("id")).orderBy(col("cos_sim").desc, col("nbr"))
    val topk = sym.withColumn("rnk", row_number().over(wNbr)).filter(col("rnk") <= k)
    val labels = emb.select(col(idCol).as("nbr"), col(labelCol).as("nbr_label"))
    val votes = topk.join(labels, "nbr")
      .groupBy(col("id"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"),
        sum(round(col("cos_sim") * 10000).cast("long")).as("score_i"))
    val wVote = Window.partitionBy(col("id"))
      .orderBy(col("n_votes").desc, col("score_i").desc, col("nbr_label"))
    val pred = votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
      .select(col("id"), col("nbr_label").as("pred_label"),
        col("n_votes").cast("int").as("n_votes"))
    emb.select(col(idCol).as("id"), col(labelCol).as("label"))
      .join(pred, "id")
      .select(col("id"), col("label"), col("pred_label"), col("n_votes"),
        (col("label") === col("pred_label")).cast("int").as("is_correct"))
  }
}
