package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{AsOfJoin, Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asof picks greatest right ts <= left ts per key; ties -> greatest id; none -> null") {
    val left = Seq(                       // (event_id, user_id, ts)
      (100L, 1L, 50L), (101L, 1L, 10L), (102L, 2L, 50L), (103L, 3L, 50L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(                      // signups
      (1L, 1L, 20L), (2L, 1L, 50L),      // user 1: ts 20, and one exactly at 50
      (3L, 1L, 50L),                     // tie at 50 -> id 3 wins
      (4L, 2L, 60L))                     // user 2: only AFTER the purchase
      .toDF("event_id", "user_id", "ts")
    val got = AsOfJoin.asof(left, right, Seq("user_id"), "ts", "ts", "event_id", Nil)
      .select("event_id", "asof_event_id").as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(3L))   // <= semantics + tie -> greatest id
    assert(got(101L).isEmpty)        // nothing at or before ts 10
    assert(got(102L).isEmpty)        // right exists only later
    assert(got(103L).isEmpty)        // key has no right rows at all

    val fwd = AsOfJoin.asof(left, right, Seq("user_id"), "ts", "ts", "event_id", Nil,
        direction = "forward")
      .select("event_id", "asof_event_id").as[(Long, Option[Long])].collect().toMap
    assert(fwd(100L).contains(2L))   // >= semantics + tie -> smallest id
    assert(fwd(101L).contains(1L))   // earliest signup after ts 10 is ts 20
    assert(fwd(102L).contains(4L))   // the later-only signup now matches
    assert(fwd(103L).isEmpty)

    val near = AsOfJoin.asof(left, right, Seq("user_id"), "ts", "ts", "event_id", Nil,
        direction = "nearest")
      .select("event_id", "asof_event_id").as[(Long, Option[Long])].collect().toMap
    assert(near(100L).contains(3L))  // exact-distance tie prefers backward
    assert(near(101L).contains(1L))  // only a forward match exists
    assert(near(102L).contains(4L))
    assert(near(103L).isEmpty)
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark query engines and parquet files"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup flags dup rows and keeps min id") {
    val flags = Dedup.exactDedupFlags(docs, "doc_id", "text")
      .select("doc_id", "keep_id", "is_dup").as[(Long, Long, Int)].collect()
      .map { case (k, a, b) => k -> (a, b) }.toMap
    assert(flags(1L) == (1L, 0) && flags(4L) == (1L, 1) && flags(2L)._2 == 0)
    assert(Dedup.exactDedup(docs, "doc_id", Seq("text")).count() == 3)
  }

  test("jaccard pairs rank near-dups above unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 4L)) == 1.0)                  // exact dup
    assert(pairs((1L, 2L)) > 0.7)                   // near-dup
    assert(!pairs.contains((1L, 3L)) || pairs((1L, 3L)) < 0.2)
  }

  test("minhash candidates find the near-dup pair with high estimate") {
    val got = Dedup.minHashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got((1L, 4L)) == 1.0)
    assert(got.get((1L, 2L)).exists(_ > 0.5))
  }

  test("simhash: identical docs at distance 0, near-dups close, unrelated far") {
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 64)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(got((1L, 4L)) == 0)
    assert(got((1L, 2L)) < 16)
    assert(got.get((1L, 3L)).forall(_ > got((1L, 2L))))
  }

  test("simhash at the default radius keeps dups, drops unrelated") {
    val got = Dedup.simHashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L)))                       // exact dup, hamming 0
    Seq((1L, 3L), (2L, 3L), (3L, 4L)).foreach(p =>       // unrelated doc 3
      assert(!got.contains(p), s"unrelated pair $p passed the radius"))
  }

  test("simhash default-radius pairs on the real corpus recover every strong near-dup") {
    val corpus = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val sims = Dedup.simHashPairs(corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val jacc = Dedup.jaccardPairs(corpus, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    if (sims.nonEmpty) {
      val js = sims.toSeq.map(p => jacc.getOrElse(p, 0.0))
      val mean = js.sum / js.size
      assert(mean >= 0.5, s"simhash<=12 pairs average jaccard $mean — not near-dups")
    }
    // the gate round 2 failed: every jaccard >= 0.9 pair (measured at
    // hamming <= 11 on this corpus) must be recovered by the banded search
    val strong = jacc.filter(_._2 >= 0.9).keySet
    assert(strong.nonEmpty, "corpus fixture lost its strong near-dup pairs")
    assert(strong.subsetOf(sims),
      s"missed strong pairs: ${strong -- sims} (simhash found ${sims.size})")
  }

  test("chooseNearDupTier: the docstring switchover rule as code (round 14)") {
    import Dedup.NearDupTier._
    // below-0.9 thresholds go to PPJoin at ANY size (only exact-recall tier)
    assert(Dedup.chooseNearDupTier(100L, 0.8) == PpJoin)
    assert(Dedup.chooseNearDupTier(10000000L, 0.6) == PpJoin)
    // >= 0.9: simhash up to the measured regime bound, minhash banding past it
    assert(Dedup.chooseNearDupTier(50000L, 0.9) == SimHash)
    assert(Dedup.chooseNearDupTier(100000L, 0.95) == SimHash)
    assert(Dedup.chooseNearDupTier(100001L, 0.9) == MinHashBanding)
    assert(Dedup.chooseNearDupTier(500000L, 0.9) == MinHashBanding)
  }

  test("nearDupPairs facade emits identical pairs to each chosen tier") {
    val corpus = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    // simhash regime (n <= cap, t = 0.9): facade == verified simhash tier
    val simTier = Dedup.verifyJaccardOnIndex(
      Dedup.simHashPairs(corpus, "doc_id", "text").select("id_a", "id_b"),
      Dedup.shingleIndex(corpus, "doc_id", "text", 3))
      .filter($"jaccard" >= 0.9)
    val simFacade = Dedup.nearDupPairs(corpus, "doc_id", "text", minJaccard = 0.9)
    assert(rows(simFacade) == rows(simTier) && rows(simFacade).nonEmpty)
    // minhash regime forced by simhashMaxDocs = 0: == verified minhash tier
    val mhTier = Dedup.verifyJaccardOnIndex(
      Dedup.minHashPairs(corpus, "doc_id", "text").select("id_a", "id_b"),
      Dedup.shingleIndex(corpus, "doc_id", "text", 3))
      .filter($"jaccard" >= 0.9)
    val mhFacade = Dedup.nearDupPairs(corpus, "doc_id", "text",
      minJaccard = 0.9, simhashMaxDocs = 0L)
    assert(rows(mhFacade) == rows(mhTier) && rows(mhFacade).nonEmpty)
    // ppjoin regime (t < 0.9): == jaccardPairsThresholded
    val ppTier = Dedup.jaccardPairsThresholded(corpus, "doc_id", "text",
      minJaccard = 0.8)
    val ppFacade = Dedup.nearDupPairs(corpus, "doc_id", "text", minJaccard = 0.8)
    assert(rows(ppFacade) == rows(ppTier) && rows(ppFacade).nonEmpty)
  }

  test("contamination: planted 5-gram overlap found, clean docs not flagged") {
    val probes = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains "quick brown fox jumps over" and more — 5 shared 5-grams
      (10L, "she saw the quick brown fox jumps over the fence"),
      // zero shared 5-grams (shared words but no 5-token run)
      (11L, "quick dog brown lazy fox the over jumps tonight"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(corpus, probes, "doc_id", "text", k = 5)
      .select("corpus_id", "probe_id", "overlap", "probe_sz")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got.map(_._1) == List(10L))                 // only the planted doc
    val (_, _, overlap, psz) = got.head
    // probe has 6 distinct 5-grams; "the quick brown fox jumps",
    // "quick brown fox jumps over", "brown fox jumps over the" appear in
    // the corpus doc
    assert(psz == 6L && overlap == 3L, s"overlap=$overlap probe_sz=$psz")
  }

  test("stratified sample: exact per-stratum arithmetic quotas, deterministic") {
    val df = (0L until 100L).map(i => (i, if (i < 60) "en" else if (i < 80) "zh" else "de"))
      .toDF("doc_id", "lang")
    val sampled = graft.operators.Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> (1, 2), "zh" -> (1, 4)))
    val rep = graft.operators.Sampling.mixtureReport(df, sampled, "lang")
      .select("lang", "n_total", "n_kept").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep("en") == (60L, 30L))   // ids 0..59, even ids kept
    assert(rep("zh") == (20L, 5L))    // ids 60..79, id%4==0 kept
    assert(rep("de") == (20L, 20L))   // default: keep all
    // determinism: same input -> same sample, element for element
    val again = graft.operators.Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> (1, 2), "zh" -> (1, 4))).select("doc_id").as[Long].collect().sorted
    assert(again.toSeq == sampled.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("simhash second-level blocking loses no pairs (hot path == cold path)") {
    val corpus = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    // cap=1 forces EVERY bucket through the rotated sub-banding; a huge cap
    // keeps everything first-level. The rotated re-banding preserves the
    // pigeonhole guarantee, so the pair sets must be identical.
    val allHot = Dedup.simHashPairs(corpus, "doc_id", "text", hotBucketCap = 1)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val allCold = Dedup.simHashPairs(corpus, "doc_id", "text", hotBucketCap = Int.MaxValue)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(allHot == allCold,
      s"two-level blocking changed the result: only-hot=${allHot -- allCold} only-cold=${allCold -- allHot}")
    assert(allCold.nonEmpty)
  }

  test("prefix-filtered thresholded jaccard equals the full join filtered, on the corpus") {
    val corpus = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    def keyOf(r: (Long, Long, Long, Long, Long, Double)) = (r._1, r._2, r._3, r._4, r._5, r._6)
    val full = Dedup.jaccardPairs(corpus, "doc_id", "text").filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().map(keyOf).toSet
    val pf = Dedup.jaccardPairsThresholded(corpus, "doc_id", "text", minJaccard = 0.6)
      .as[(Long, Long, Long, Long, Long, Double)].collect().map(keyOf).toSet
    assert(pf == full, s"prefix filter changed results: missing=${full -- pf} extra=${pf -- full}")
    assert(full.nonEmpty)
  }

  test("hash-keyed exact dedup handles a hot-key corpus (one text dominating)") {
    val hot = (1L to 3000L).map(i =>
      (i, "common boilerplate banner text repeated verbatim across the corpus"))
    val uniq = (3001L to 4000L).map(i => (i, s"unique document number $i with its own words"))
    val df = (hot ++ uniq).toDF("doc_id", "text")
    val flags = Dedup.exactDedupFlags(df, "doc_id", "text")
    assert(flags.filter(col("is_dup") === 1).count() == 2999L)
    assert(flags.filter(col("keep_id") === 1L).count() == 3000L)
    assert(Dedup.exactDedup(df, "doc_id", Seq("text")).count() == 1001L)
  }

  test("edit-distance pairs: prefix block + Levenshtein verify, exact values") {
    val got = Dedup.editDistancePairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "edit_dist", "edit_sim")
      .as[(Long, Long, Int, Double)].collect()
      .map { case (a, b, d, s) => (a, b) -> (d, s) }.toMap
    // docs 1/2/4 share the "the quick brown" block; doc 3 does not
    assert(got((1L, 4L)) == (0, 1.0))                    // exact dup
    val (d12, s12) = got((1L, 2L))                       // bank -> bend: 2 char edits
    assert(d12 == 2 && s12 > 0.95)
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"unexpected pair set: ${got.keySet}")
  }

  test("edit distance is order-sensitive: identical vocabulary, low similarity") {
    // the two docs share the exact token SET (a bag-of-words signal calls
    // them identical) but the tail is reordered — character-level edit
    // similarity must land below the near-dup threshold
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma kappa iota theta eta zeta epsilon delta"
    assert(a.split(" ").toSet == b.split(" ").toSet)
    val ed = Dedup.editDistancePairs(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text", minSim = 0.0)
      .select("edit_sim").as[Double].collect()
    assert(ed.length == 1 && ed(0) < 0.8,
      s"reordered doc must score below the near-dup threshold, got ${ed.toSeq}")
  }

  test("edit-distance blocking drops hot boilerplate blocks at the cap") {
    val hot = (1L to 12L).map(i => (i, s"click here to read article number $i today"))
    val cold = Seq((100L, "rare prefix block one shared tail"),
      (101L, "rare prefix block one shared tale"))
    val df = (hot ++ cold).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(df, "doc_id", "text", maxBlock = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)),
      s"hot block (12 > cap 8) must be dropped wholesale, got $pairs")
    // raising the cap re-admits the hot block's pairs
    val uncapped = Dedup.editDistancePairs(df, "doc_id", "text", maxBlock = 100)
    assert(uncapped.count() == 12L * 11 / 2 + 1)
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine column function: identity 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 2.0f), 0.0),
      (Seq(1.0f, 1.0f), Seq(-1.0f, -1.0f), -1.0)
    ).toDF("a", "b", "want")
    val got = df.select(cosine(col("a"), col("b")).as("c"), col("want")).as[(Double, Double)].collect()
    got.foreach { case (c, w) => assert(math.abs(c - w) < 1e-9) }
  }

  test("brute-force top-k finds the planted nearest neighbor first") {
    val base = Seq.tabulate(64)(i => math.sin(i.toDouble).toFloat)
    val near = base.updated(0, base(0) + 0.01f)
    val vecs = Seq((0L, base), (1L, near)) ++
      (2L to 30L).map(i => (i, Seq.tabulate(64)(d => math.cos(d * i.toDouble).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val top = Similarity.topKForId(df, "vec_id", "embedding", 0L, 3)
      .select("vec_id").as[Long].collect()
    assert(top.head == 1L)
  }

  test("chooseCosineTier: the vector switchover rule as code (round 14)") {
    import Similarity.CosineTier._
    // small corpora: exact, at any threshold
    assert(Similarity.chooseCosineTier(1000L, 0.9) == Exact)
    assert(Similarity.chooseCosineTier(20000L, 0.45) == Exact)
    // past the brute regime: IMI for the near-dup band, sketch for the
    // measured 0.45 operating point, exact below the sketch margin
    assert(Similarity.chooseCosineTier(200000L, 0.9) == Imi)
    assert(Similarity.chooseCosineTier(200000L, 0.95) == Imi)
    assert(Similarity.chooseCosineTier(200000L, 0.45) == SketchAnn)
    assert(Similarity.chooseCosineTier(200000L, 0.6) == SketchAnn)
    assert(Similarity.chooseCosineTier(200000L, 0.3) == Exact)
  }

  test("chooseImiNAssign: the IMI operating-point rule as code (round 15)") {
    // measured-1.0 regime (every oracle gate): nAssign = 2 at any floor
    assert(Similarity.chooseImiNAssign(2000L) == 2)
    assert(Similarity.chooseImiNAssign(20000L, recallFloor = 1.0) == 2)
    // past the measured-1.0 regime, the default 0.99 floor escalates —
    // 0.9888 measured at nAssign = 2 vs 0.9982 at 3 (2e5 vectors,
    // DuckDB-anti-joined, SCALE.md r14)
    assert(Similarity.chooseImiNAssign(20001L) == 3)
    assert(Similarity.chooseImiNAssign(200000L) == 3)
    // an explicit floor at/below the measured nAssign = 2 point keeps 2
    assert(Similarity.chooseImiNAssign(200000L, recallFloor = 0.9888) == 2)
    assert(Similarity.chooseImiNAssign(200000L, recallFloor = 0.98) == 2)
    // boundary of the measured curve
    assert(Similarity.chooseImiNAssign(200000L, recallFloor = 0.9982) == 3)
    // a floor past every measured point REFUSES instead of silently
    // under-delivering
    intercept[IllegalArgumentException] {
      Similarity.chooseImiNAssign(200000L, recallFloor = 0.999)
    }
    intercept[IllegalArgumentException] {
      Similarity.chooseImiNAssign(100L, recallFloor = 0.0)
    }
  }

  test("cosinePairsAuto honors an explicit imiRecallFloor on the IMI branch") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos_sim")
        .as[(Long, Long, Double)].collect().toSet
    // force the IMI branch; hint the corpus PAST the measured-1.0 regime
    // so the floor decides nAssign: 0.98 → 2, default 0.99 → 3. At this
    // fixture scale both operating points have recall 1.0, so the
    // emitted pairs agree with each other and with nAssign = 3 invoked
    // directly — the spec pins the PLUMBING (floor reaches imiPairs).
    val hint = Some(50000L)
    val at2 = rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.9, bruteMaxDocs = 0L, nDocsHint = hint, imiRecallFloor = 0.98))
    val at3 = rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.9, bruteMaxDocs = 0L, nDocsHint = hint))
    assert(at3 == rows(Similarity.imiPairs(emb, "vec_id", "embedding",
      nAssign = 3, minCos = 0.9)))
    assert(at2 == rows(Similarity.imiPairs(emb, "vec_id", "embedding",
      nAssign = 2, minCos = 0.9)))
    // and a floor past the measured curve refuses through the facade too
    intercept[IllegalArgumentException] {
      Similarity.cosinePairsAuto(emb, "vec_id", "embedding", minCos = 0.9,
        bruteMaxDocs = 0L, nDocsHint = hint, imiRecallFloor = 0.9999)
    }
  }

  test("cosinePairsAuto facade emits identical pairs to each chosen tier") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos_sim")
        .as[(Long, Long, Double)].collect().toSet
    // exact branch (n <= bruteMaxDocs)
    val ex = rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.45))
    assert(ex == rows(Similarity.exactCosinePairs(emb, "vec_id", "embedding",
      minCos = 0.45)) && ex.nonEmpty)
    // sketch branch forced (bruteMaxDocs = 0, threshold in [0.45, 0.9))
    val sk = rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.45, bruteMaxDocs = 0L))
    assert(sk == rows(Similarity.annPairs(emb, "vec_id", "embedding",
      minCos = 0.45)) && sk.nonEmpty)
    // IMI branch forced (bruteMaxDocs = 0, threshold >= 0.9)
    val im = rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.9, bruteMaxDocs = 0L))
    assert(im == rows(Similarity.imiPairs(emb, "vec_id", "embedding",
      minCos = 0.9)))
    // nDocsHint skips the count but must land on the same tier/output
    assert(rows(Similarity.cosinePairsAuto(emb, "vec_id", "embedding",
      minCos = 0.45, nDocsHint = Some(100L))) == ex)
  }

  test("sketch ann: identical vectors pass the estimate filter and score 1.0") {
    val v = Seq.tabulate(64)(i => (i % 7 - 3).toFloat)
    val df = ((0L to 1L).map(i => (i, v)) ++
      (2L to 20L).map(i => (i, Seq.tabulate(64)(d => ((d * i) % 11 - 5).toFloat)))).toDF("vec_id", "embedding")
    val pairs = Similarity.annPairs(df, "vec_id", "embedding", minCos = 0.99)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
  }

  test("sim-sig expression: codegen and interpreted eval agree; hamming tracks angle") {
    val df = Seq(
      (0L, Seq.tabulate(64)(i => math.sin(i * 1.7).toFloat)),
      (1L, Seq.tabulate(64)(i => (math.sin(i * 1.7) + 0.05 * math.cos(i * 3.1)).toFloat)),
      (2L, Seq.tabulate(64)(i => math.cos(i * 2.3).toFloat))).toDF("vec_id", "embedding")
    val sig = graft.plans.GraftExtensions.graftSimSig(spark, col("embedding"), 256)
    val codegen = df.select(col("vec_id"), sig.as("sig")).as[(Long, Seq[Long])].collect().toMap
    // interpreted path: eval the expression directly against each vector
    df.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().foreach { case (id, vec) =>
      val expr = graft.plans.FloatVecSimSig(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          vec.toArray, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        256, 42L)
      val interp = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      assert(interp == codegen(id), s"codegen/interpreted sketch mismatch for vec $id")
    }
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    // near-identical vectors: small hamming; unrelated: near bits/2
    assert(ham(codegen(0L), codegen(1L)) < 40)
    assert(ham(codegen(0L), codegen(2L)) > 90)
  }

  test("centroids: mean per (group, pos) without collecting vectors") {
    val df = Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)), (1, Seq(10.0f, 20.0f)))
      .toDF("label", "embedding")
    val got = Similarity.centroids(df, "label", "embedding")
      .select("label", "pos", "mean_v").as[(Int, Int, Double)].collect().toSet
    assert(got == Set((0, 0, 2.0), (0, 1, 4.0), (1, 0, 10.0), (1, 1, 20.0)))
  }
}

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: k-grams in order; shorter-than-k docs yield empty (not descending sequence)") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(shingles(tokens(col("text")), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("fingerprint is order-sensitive and stable") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text").select(fingerprint(tokens(col("text"))).as("fp"))
    val fps = df.as[Long].collect()
    assert(fps(0) == fps(2) && fps(0) != fps(1))
  }

  test("langGuess: character probes + stopword profiles") {
    val got = Seq(
      "the cat is on the mat", "el gato esta en la casa de los abuelos",
      "der hund ist nicht hier", "xyzzy qwerty").toDF("text")
      .select(langGuess(col("text"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "de", "und"))
  }

  test("quality score rewards mid-length rich docs") {
    val rich = ("doc with " + (1 to 40).map(i => s"tok$i").mkString(" "))
    val poor = "the the the the the the the the the the"
    val got = Seq(rich, poor).toDF("text").select(qualityScore(col("text"))).as[Double].collect()
    assert(got(0) > got(1))
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("attach + batched feature extraction: histogram normalized, sizes right") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(100)
    val media = Multimodal.attachMedia(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 100)
    feats.foreach { f =>
      assert(f.histogram.length == 16)
      assert(math.abs(f.histogram.sum - 1.0f) < 1e-3)
      assert(f.n_bytes > 0)
    }
  }

  test("batched resize: fixed output geometry, deterministic, values in range") {
    val docs = Multimodal.attachMedia(spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(20))
    val a = Multimodal.resize(docs, outW = 8, outH = 8).collect()
    val b = Multimodal.resize(docs, outW = 8, outH = 8).collect()
    assert(a.length == 20)
    a.foreach { r =>
      assert(r.pixels.length == 64 && r.width == 8 && r.height == 8)
      assert(r.pixels.forall(p => p >= 0.0f && p <= 1.0f))
    }
    // deterministic across runs
    assert(a.map(r => (r.doc_id, r.pixels.toSeq)).toMap == b.map(r => (r.doc_id, r.pixels.toSeq)).toMap)
  }

  test("frame sampling emits n deterministic slices") {
    val docs = Multimodal.attachMedia(spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(5))
    val frames = Multimodal.sampleFrames(docs, "media", nFrames = 4, frameBytes = 8)
      .select("frames").as[Seq[Array[Byte]]].collect()
    frames.foreach(f => assert(f.length == 4 && f.forall(_.length <= 8)))
  }

  test("PNG codec round-trip: real javax.imageio decode recovers the generator formula") {
    // syntheticPng encodes pixel i = (d*31 + i²) mod 256 through the real
    // PNG writer; decodePng must hand back exactly those values (PNG is
    // lossless) — the invariant the q_multimodal_features oracle rests on
    for (d <- Seq(0L, 7L, 499L)) {
      val bytes = Multimodal.syntheticPng(d)
      assert(bytes.length > 8 &&
        (bytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt)),
        "payload must actually be a PNG stream")
      val px = Multimodal.decodePng(bytes)
      assert(px.length == 32 * 16)
      px.zipWithIndex.foreach { case (p, i) =>
        val expected = ((d * 31 + i.toLong * i) % 256).toInt
        assert(math.round(p * 255.0f) == expected, s"pixel $i of doc $d")
      }
    }
  }

  test("WAV codec round-trip: real javax.sound.sampled decode recovers the generator formula") {
    for (d <- Seq(0L, 13L, 499L)) {
      val bytes = Multimodal.syntheticWav(d, nSamples = 200)
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
        new String(bytes.slice(8, 12), "US-ASCII") == "WAVE",
        "payload must actually be a RIFF/WAVE stream")
      val s = Multimodal.decodeWav(bytes)
      assert(s.length == 200)
      s.zipWithIndex.foreach { case (v, i) =>
        val expected = (((d * 131 + i.toLong * i * 7) % 65536) - 32768).toInt
        assert(v == expected, s"sample $i of doc $d")
      }
    }
  }

  test("decodeByKind dispatches every kind into its real codec (round 14)") {
    // image → javax.imageio, bit-identical to the direct decode
    val png = Multimodal.syntheticPng(7L)
    assert(Multimodal.decodeByKind("image", png, 0).toSeq ==
      Multimodal.decodePng(png).toSeq)
    // audio → javax.sound, affinely mapped into [0, 1]
    val wav = Multimodal.syntheticWav(7L, nSamples = 200)
    val audio = Multimodal.decodeByKind("audio", wav, 0)
    assert(audio.length == 200 && audio.forall(v => v >= 0f && v <= 1f))
    assert(audio.toSeq ==
      Multimodal.decodeWav(wav).map(s => (s + 32768) / 65535.0f).toSeq)
    // video → FIRST frame only, through the same PNG path
    val vid = Multimodal.syntheticVideo(7L, nFrames = 3)
    assert(Multimodal.decodeByKind("video", vid, 0).toSeq ==
      Multimodal.decodeVideoFrames(vid, Seq(0)).head._2.toSeq)
    // text/unknown → byte normalization, cap respected
    val txt = "some text".getBytes("UTF-8")
    val t = Multimodal.decodeByKind("text", txt, 5)
    assert(t.length == 5 && t.toSeq ==
      txt.take(5).map(b => (b & 0xff) / 255.0f).toSeq)
  }

  test("extractFeatures accepts meta-less (id, media) frames with the byte default") {
    // the attach*Corpus fixtures emit only (doc_id, media) — absent
    // media_meta must route to the byte-level default, not throw
    // (round-14 review)
    val df = Seq((1L, "abc".getBytes("UTF-8")), (2L, "xyzw".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val got = Multimodal.extractFeatures(df).collect().map(f => f.doc_id -> f).toMap
    assert(got(1L).n_bytes == 3 && got(2L).n_bytes == 4)
    got.values.foreach(f => assert(math.abs(f.histogram.sum - 1.0f) < 1e-3))
  }

  test("extractFeatures default is the REAL audio decode on attachWav rows") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(10)
    val feats = Multimodal.extractFeatures(Multimodal.attachWav(docs)).collect()
    assert(feats.length == 10)
    feats.foreach { f =>
      // bins predicted from the PCM generator formula through the same
      // [0,1] mapping — only holds if the REAL wav decode ran
      val expected = new Array[Int](16)
      (0 until 800).foreach { i =>
        val s = (((f.doc_id * 131 + i.toLong * i * 7) % 65536) - 32768).toInt
        expected((((s + 32768) / 65535.0f) * 15.999f).toInt) += 1
      }
      assert(f.bin_counts.toSeq == expected.toSeq, s"doc ${f.doc_id}")
    }
  }

  test("attachWav + extractAudioFeatures: integer features match direct formula") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(30)
    val feats = Multimodal.extractAudioFeatures(Multimodal.attachWav(docs)).collect()
    assert(feats.length == 30)
    feats.foreach { f =>
      val s = (0 until 800).map(i => (((f.doc_id * 131 + i.toLong * i * 7) % 65536) - 32768).toInt)
      assert(f.n_samples == 800)
      assert(f.c_pos == s.count(_ >= 0), s"doc ${f.doc_id} c_pos")
      assert(f.c_loud == s.count(v => math.abs(v) >= 16384), s"doc ${f.doc_id} c_loud")
      assert(f.sum_abs == s.map(v => math.abs(v).toLong).sum, s"doc ${f.doc_id} sum_abs")
    }
  }

  test("attachPng + extractFeatures(decodePng): bin counts match direct formula") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(50)
    val media = Multimodal.attachPng(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 50)
    feats.foreach { f =>
      val expected = new Array[Int](16)
      (0 until 512).foreach { i =>
        val v = ((f.doc_id * 31 + i.toLong * i) % 256).toInt
        expected(((v / 255.0f) * 15.999f).toInt) += 1
      }
      assert(f.bin_counts.toSeq == expected.toSeq, s"doc ${f.doc_id}")
    }
  }

  test("video container round-trip: per-frame PNG decode recovers the generator formula") {
    // syntheticVideo encodes frame f pixel i = (d*31 + f*7919 + i²) mod 256
    // as length-prefixed real PNGs; decodeVideoFrames must hand back
    // exactly those values — the invariant the q_multimodal_video oracle
    // rests on
    for (d <- Seq(0L, 7L, 499L)) {
      val bytes = Multimodal.syntheticVideo(d, nFrames = 6)
      assert(new String(bytes.take(4), "US-ASCII") == "GVID")
      assert(Multimodal.videoFrameCount(bytes) == 6)
      val frames = Multimodal.decodeVideoFrames(bytes, 0 until 6)
      assert(frames.map(_._1) == (0 until 6))
      frames.foreach { case (f, px) =>
        assert(px.length == 32 * 16)
        px.zipWithIndex.foreach { case (p, i) =>
          val expected = ((d * 31 + f * 7919L + i.toLong * i) % 256).toInt
          assert(math.round(p * 255.0f) == expected, s"frame $f pixel $i of doc $d")
        }
      }
    }
  }

  test("frame sampling is a byte-range skip: unsampled frames are never decoded") {
    // corrupt every UNSAMPLED frame's bytes in place — if sampling decoded
    // them, javax.imageio would throw; the sampled slice must come back
    // intact, proving the skip is a pure byte-range seek (the property
    // that makes k-of-n sampling read k frames at 100 TB, not n)
    val bytes = Multimodal.syntheticVideo(42L, nFrames = 6)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.position(4)
    val n = buf.getInt
    val sampled = Set(0, 2, 4)
    (0 until n).foreach { f =>
      val len = buf.getInt
      if (!sampled(f)) java.util.Arrays.fill(bytes, buf.position(), buf.position() + len, 0xA5.toByte)
      buf.position(buf.position() + len)
    }
    val frames = Multimodal.decodeVideoFrames(bytes, Seq(0, 2, 4))
    assert(frames.map(_._1) == Seq(0, 2, 4))
    frames.foreach { case (f, px) =>
      assert(math.round(px(9) * 255.0f) == ((42L * 31 + f * 7919L + 81) % 256).toInt)
    }
    intercept[Exception](Multimodal.decodeVideoFrames(bytes, Seq(1)))
  }

  test("extractVideoFeatures: sampled-frame bin counts match direct formula") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(30)
    val media = Multimodal.attachVideo(docs, nFrames = 6)
    val feats = Multimodal.extractVideoFeatures(media, nSample = 3).collect()
    assert(feats.length == 30)
    feats.foreach { f =>
      assert(f.n_frames == 6 && f.n_sampled == 3)
      val expected = new Array[Int](16)
      for (fr <- Seq(0, 2, 4); i <- 0 until 512) {
        val v = ((f.doc_id * 31 + fr * 7919L + i.toLong * i) % 256).toInt
        expected(((v / 255.0f) * 15.999f).toInt) += 1
      }
      assert(f.bin_counts.toSeq == expected.toSeq, s"doc ${f.doc_id}")
    }
  }

  test("image aHash near-dup: every noisy twin found, byte hashing would miss them all") {
    // round 13: the perceptual-dedup semantics the oracle can't state —
    // a +3-on-every-37th-pixel perturbation keeps every twin within
    // hamming 3 of its base (found at the registered cut of 6), while
    // the PNG BYTES differ (an exact content-hash dedup sees distinct
    // files). Banding recall is exact: pairs equal a brute-force cut.
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id").limit(140)
    val corpus = Multimodal.attachPngCorpus(docs)
    val hashes = Multimodal.imageAHash(corpus)
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val twinIds = docs.as[Long].collect().filter(_ % 7 == 0)
    assert(twinIds.nonEmpty)
    val twinPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(twinPairs.map(_._1).toSet == twinIds.toSet,
      "every planted twin must be recovered")
    assert(twinPairs.forall(_._3 <= 3), s"twin hamming must be tiny: ${twinPairs.toSeq}")
    // the perceptual claim: twin PNG BYTES differ (byte dedup fails here)
    val byId = corpus.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    twinIds.take(5).foreach { d =>
      assert(!java.util.Arrays.equals(byId(d), byId(d + 1000000L)))
    }
    // banding recall check: brute-force hamming cut gives the same pairs
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      hm = java.lang.Long.bitCount(hs(a) ^ hs(b)) if hm <= 6
    } yield (a, b, hm)).toSet
    assert(pairs.toSet == brute, "banded pairs must equal the brute-force cut")
  }

  test("audio energy-hash near-dup: noisy twins found, real WAV decode, banding exact") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id").limit(140)
    val corpus = Multimodal.attachWavCorpus(docs)
    // payloads are genuine RIFF/WAVE streams
    val one = corpus.limit(1).collect()(0).getAs[Array[Byte]](1)
    assert(new String(one.take(4), "US-ASCII") == "RIFF")
    val hashes = Multimodal.audioEnergyHash(corpus)
    val pairs = Multimodal.nearDupPairsByHash(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val twinIds = docs.as[Long].collect().filter(_ % 7 == 0)
    val twinPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(twinPairs.map(_._1).toSet == twinIds.toSet,
      "every planted audio twin must be recovered")
    assert(twinPairs.forall(_._3 <= 1), s"audio twin hamming must be <= 1: ${twinPairs.toSeq}")
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      hm = java.lang.Long.bitCount(hs(a) ^ hs(b)) if hm <= 6
    } yield (a, b, hm)).toSet
    assert(pairs.toSet == brute, "banded pairs must equal the brute-force cut")
  }

  test("video temporal-mean aHash near-dup: twins found from 3 of 6 decoded frames, banding exact") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id").limit(140)
    val corpus = Multimodal.attachVideoCorpus(docs)
    // payloads are genuine GVID containers with 6 real PNG frames
    val one = corpus.limit(1).collect()(0).getAs[Array[Byte]](1)
    assert(new String(one.take(4), "US-ASCII") == "GVID")
    assert(Multimodal.videoFrameCount(one) == 6)
    val hashes = Multimodal.videoAHash(corpus, nSample = 3)
    val pairs = Multimodal.nearDupPairsByHash(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val twinIds = docs.as[Long].collect().filter(_ % 7 == 0)
    assert(twinIds.nonEmpty)
    val twinPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(twinPairs.map(_._1).toSet == twinIds.toSet,
      "every planted video twin must be recovered")
    assert(twinPairs.forall(_._3 <= 3), s"video twin hamming must be tiny: ${twinPairs.toSeq}")
    // banding recall check: brute-force hamming cut gives the same pairs
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      hm = java.lang.Long.bitCount(hs(a) ^ hs(b)) if hm <= 6
    } yield (a, b, hm)).toSet
    assert(pairs.toSet == brute, "banded pairs must equal the brute-force cut")
    // sampling really samples: a clip hashed from ALL frames differs for
    // some doc (the sampled hash is a 3-frame statistic, not a 6-frame
    // one), while the SAME sampled indices reproduce bit-identically
    val again = Multimodal.videoAHash(corpus, nSample = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == hs, "sampled hash must be deterministic")
    val full = Multimodal.videoAHash(corpus, nSample = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.exists { case (id, h) => full(id) != h },
      "6-frame hash must differ somewhere from the 3-frame hash")
  }
}

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join equals plain join on skewed keys") {
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select(col("l_suppkey"), col("l_quantity"), col("l_orderkey"))
    val sup = spark.read.parquet(s"${TestSpark.sf}/supplier.parquet")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val plain = li.join(sup, Seq("l_suppkey")).count()
    val salted = graft.operators.Skew
      .saltedJoin(li, sup, "l_suppkey", salts = 8, spreadCol = "l_orderkey").count()
    assert(salted == plain && plain == 6000L)
  }

  test("AQE splits a skewed sort-merge-join partition at runtime (skew=true)") {
    // the RUNTIME complement to salting (round 12): salting rewrites the
    // plan ahead of time; AQE detects the skewed shuffle partition from
    // actual map output sizes and splits it, no code change. Thresholds
    // forced low so the planted 90%-one-key skew trips detection at
    // fixture scale; production keeps the defaults and the same machinery
    // engages at real skew. The join must NOT be broadcast (SMJ only) and
    // the result must be unchanged.
    import spark.implicits._
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 90k rows on ONE key + 100 on each of 100 others vs a 101-key dim
      val fact = ((1L to 90000L).map(i => (7L, i)) ++
        (1L to 10000L).map(i => (i % 100 + 100L, i))).toDF("k", "v")
      val dim = (Seq(7L) ++ (100L until 200L)).map(k => (k, s"d$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // execute THIS frame's plan (count() would build a separate query
      // execution and the adaptive final plan would never materialize
      // on `joined`), then read the post-AQE physical plan back
      assert(joined.collect().length == 100000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed SMJ side:\n$finalPlan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}

class VectorAvgAggregatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("typed Aggregator vector mean matches relational centroids") {
    val vecAvg = org.apache.spark.sql.functions.udaf(graft.functions.VectorAvgAggregator)
    spark.udf.register("vec_avg", vecAvg)
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    emb.createOrReplaceTempView("emb_agg_test")
    val typed = spark.sql("SELECT label, vec_avg(embedding) AS c FROM emb_agg_test GROUP BY label")
      .selectExpr("label", "round(c[0], 6) AS c0").as[(Int, Double)].collect().toMap
    val relational = graft.operators.Similarity.centroids(emb, "label", "embedding")
      .filter("pos = 0").selectExpr("label", "round(mean_v, 6) AS c0")
      .as[(Int, Double)].collect().toMap
    assert(typed == relational && typed.nonEmpty)
  }
}

class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IVF probe finds the planted nearest neighbor; recall vs brute force") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val (assign, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(assign.count() == emb.count())             // every vector assigned
    assert(assign.select("cell").distinct().count() > 1)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", assign, cents,
      queryId = 0L, kTop = 10, nProbe = 4).select("vec_id").as[Long].collect().toSet
    val brute = Similarity.topKForId(emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall (ivf=$ivf, brute=$brute)")
  }
}

/** The per-row Column formulations and the relational (explode+aggregate)
  * formulations must compute the SAME signatures — one is the semantic
  * spec, the other the scale path. */
class SignatureConsistencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "a b c d e f g x"),
    (3L, "z y x w v u t s")).toDF("doc_id", "text")

  test("relational minhash signatures equal the higher-order column form") {
    val hof = docs.select(col("doc_id").as("id"),
      minHashSignature(distinctShingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val rel = graft.operators.Dedup.minHashSignatures(docs, "doc_id", "text", 16, 3)
      .as[(Long, Seq[Long])].collect().toMap
    assert(hof == rel)
  }

  test("relational simhash signatures equal the higher-order column form") {
    val hof = docs.select(col("doc_id").as("id"),
      simHash64(distinctShingles(col("text"), 3)).as("sig"))
      .as[(Long, Long)].collect().toMap
    val rel = graft.operators.Dedup.simHashSignatures(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(hof == rel)
  }

  test("relational lsh signatures equal the higher-order column form") {
    val emb = Seq((1L, Seq(0.5f, -0.25f, 1.0f, -1.0f)), (2L, Seq(-0.5f, 0.25f, -1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val hof = emb.select(col("vec_id").as("id"), lshSignature(col("embedding"), 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    val rel = graft.operators.Similarity.lshSignatures(emb, "vec_id", "embedding", 8)
      .as[(Long, Long)].collect().toMap
    assert(hof == rel)
  }
}

class AnnRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // The mining task q_embed_ann actually runs: the strongest pairs in the
  // corpus, found without an all-pairs float scan. Recall is measured
  // against the exact answer — annPairs with the estimate filter disabled
  // (minEstCos = -1 keeps every pair) IS brute force on the same code path,
  // same rounding, so the only difference under test is the sketch filter.
  test("sketch-verify ANN: top-100 pair recall >= 0.9 vs exact, with real pruning") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val n = emb.count()
    def top100(minEst: Double): Seq[(Long, Long)] =
      Similarity.annPairs(emb, "vec_id", "embedding", minEstCos = minEst)
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b")).limit(100)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val exact = top100(minEst = -1.0).toSet
    val approx = top100(minEst = 0.15).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN top-100 recall too low: $recall")
    // the filter must also genuinely prune: surviving candidates well under
    // half the n(n-1)/2 pair space (with the 512-bit default sketch the
    // registered 0.25 cut passes ~3.8% of pairs; this looser 0.15 cut
    // passes more but stays comfortably under the 50% bound)
    val candidates = Similarity.annPairs(emb, "vec_id", "embedding", minEstCos = 0.15).count()
    assert(candidates.toDouble < 0.5 * (n * (n - 1) / 2),
      s"estimate filter pruned nothing: $candidates candidates of ${n * (n - 1) / 2} pairs")
  }
}

class IvfPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IVF pair mining on planted clusters: high recall of strong pairs, real pruning") {
    // 10 planted clusters of 20 vectors each (dim 32): center + small
    // deterministic noise, so same-cluster pairs have high cosine and
    // cross-cluster pairs are near-orthogonal — the corpus shape IVF is for
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = for (c <- 0 until 10; i <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 20 + i).toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.ivfPairs(df, "vec_id", "embedding", k = 16, iters = 2, nAssign = 2)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    // exact strong pairs (cos >= 0.9) via driver-side brute force (200 vecs)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val strong = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.size
      if cos(vecs(i)._2, vecs(j)._2) >= 0.9
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    assert(strong.nonEmpty)
    val recall = (strong intersect gotPairs).size.toDouble / strong.size
    assert(recall >= 0.9, s"IVF pair recall too low: $recall (${strong.size} strong pairs)")
    // pruning: candidates well under the full pair space
    assert(got.length < vecs.size * (vecs.size - 1) / 4,
      s"IVF pruned nothing: ${got.length} candidates")
  }
}

class ImiPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IMI product-cell pair mining matches flat IVF recall on planted clusters at O(n*sqrt(k)) assignment") {
    // same corpus shape as IvfPairsSpec: 10 planted clusters of 20 (dim 32)
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = for (c <- 0 until 10; i <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 20 + i).toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    // kPerHalf=4 → 16 product cells from 2×(n·4) assignment dots, vs the
    // flat quantizer's n·16 — the IMI trade this operator exists for
    val got = Similarity.imiPairs(df, "vec_id", "embedding",
        kPerHalf = 4, iters = 2, nAssign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val strong = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.size
      if cos(vecs(i)._2, vecs(j)._2) >= 0.9
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    assert(strong.nonEmpty)
    val recall = (strong intersect got).size.toDouble / strong.size
    assert(recall >= 0.9, s"IMI pair recall too low: $recall (${strong.size} strong pairs)")
    assert(got.size < vecs.size * (vecs.size - 1) / 4,
      s"IMI pruned nothing: ${got.size} candidates")
  }
}

class StreamingAnnEnrichSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streamed micro-batch enrichment equals the exact top-k against the standing corpus") {
    // same planted-cluster geometry as ImiIncrementalSpec; the new vectors
    // arrive as TWO micro-batch files instead of one batch DataFrame
    val rnd = new scala.util.Random(23)
    val centers = Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val all = for (c <- 0 until 10; i <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 20 + i).toLong, v.toSeq)
    }
    val (batch, corpus) = all.partition(_._1 % 20 >= 18)
    val base = java.nio.file.Files.createTempDirectory("graft-sann").toString
    val (b1, b2) = batch.splitAt(batch.size / 2)
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f0")
    b2.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = graft.streaming.Streams.annEnrichSink(stream,
      corpus.toDF("vec_id", "embedding"), s"$base/out", s"$base/ckpt",
      "vec_id", "embedding", k = 3)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      // the sink lands per-batch directories (batch=<id>, replay-
      // idempotent) — project away the partition column before typing
      .select("id", "nbr", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      math.rint(1e4 * d / (math.sqrt(a.map(x => x.toDouble * x).sum)
        * math.sqrt(b.map(x => x.toDouble * x).sum))) / 1e4
    }
    val exact = batch.map { case (qid, qv) =>
      qid -> corpus.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy(r => (-r._2, r._1)).take(3).map(_._1).toSeq
    }.toMap
    assert(got.keySet == batch.map(_._1).toSet,
      "every streamed vector gets enriched exactly once across micro-batches")
    val hits = batch.count { case (qid, _) => got(qid) == exact(qid) }
    assert(hits == batch.size,
      s"streamed top-3 != exact for ${batch.size - hits} of ${batch.size}")
  }

  test("enrichment top-k includes EARLIER STREAM ARRIVALS, not just the corpus (round 16)") {
    // batch 1 delivers a vector FAR from the corpus (id 9000); batch 2
    // its near-copy (9001). Under the corpus-only r15 contract 9001's
    // top-1 was a distant corpus member; the Δ×Δ standing feed must
    // surface 9000 at cos ≈ 1.
    val rnd = new scala.util.Random(29)
    val centers = Seq.fill(5)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus = for (c <- 0 until 5; i <- 0 until 18) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 100 + i).toLong, v.toSeq)
    }
    val far = Array.fill(32)(rnd.nextGaussian().toFloat * 5f)
    val base = java.nio.file.Files.createTempDirectory("graft-sannxb").toString
    Seq((9000L, far.toSeq)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$base/in/f0")
    Seq((9001L, far.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = graft.streaming.Streams.annEnrichSink(stream,
      corpus.toDF("vec_id", "embedding"), s"$base/out", s"$base/ckpt",
      "vec_id", "embedding", k = 1)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "nbr", "cos_sim")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    // batch 1: standing = corpus only — its top-1 is some corpus member
    assert(got(9000L).map(_._2).forall(_ < 9000L),
      s"batch-1 arrival must enrich against the corpus only: ${got(9000L).toSeq}")
    // batch 2: the standing feed now carries 9000
    val (_, nbr, cos) = got(9001L).head
    assert(nbr == 9000L && cos >= 0.99,
      s"batch-2 top-1 must be the batch-1 arrival at cos~1, got ($nbr, $cos)")
  }
}

class StreamingSemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streamed semantic dedup flags arriving near-dups against the standing corpus") {
    // corpus = 10 planted clusters; the stream delivers one NEAR-COPY of
    // a corpus member per cluster (must flag, dup_of = a cluster-mate)
    // and 5 far-from-everything vectors (must pass) across 2 micro-batches
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus = for (c <- 0 until 10; i <- 0 until 18) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 100 + i).toLong, v.toSeq)
    }
    val dups = (0 until 10).map { c =>
      val src = corpus(c * 18)._2
      ((10000 + c).toLong, src.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val fresh = (0 until 5).map { j =>
      ((20000 + j).toLong, Seq.fill(32)(10f * rnd.nextGaussian().toFloat))
    }
    val arrivals = dups ++ fresh
    val base = java.nio.file.Files.createTempDirectory("graft-ssd").toString
    val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f0")
    b2.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = graft.streaming.Streams.semanticDedupSink(stream,
      corpus.toDF("vec_id", "embedding"), s"$base/out", s"$base/ckpt",
      "vec_id", "embedding", minCos = 0.9)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").as[(Long, Int, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == arrivals.map(_._1).toSet, "one decision per arrival")
    dups.foreach { case (id, _) =>
      val (isDup, dupOf) = got(id)
      assert(isDup == 1, s"near-copy $id must be flagged")
      // dup_of must be a member of the SAME planted cluster
      assert(dupOf.exists(n => n / 100 == (id - 10000)), s"$id flagged against $dupOf")
    }
    fresh.foreach { case (id, _) =>
      assert(got(id) == ((0, None)), s"fresh vector $id must pass")
    }
  }
}

class ImiIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("incremental ANN finds each new vector's exact top-k among its cluster's cells") {
    // 10 planted clusters of 20 (dim 32); the last 2 members of each
    // cluster form the "new ingest" batch, the rest the standing corpus
    val rnd = new scala.util.Random(11)
    val centers = Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val all = for (c <- 0 until 10; i <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 20 + i).toLong, v.toSeq)
    }
    val (batch, corpus) = all.partition(_._1 % 20 >= 18)
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val got = Similarity.imiIncrementalTopK(corpusDf, batchDf,
        "vec_id", "embedding", k = 3, kPerHalf = 4, nAssign = 2)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      math.rint(1e4 * d / (math.sqrt(a.map(x => x.toDouble * x).sum)
        * math.sqrt(b.map(x => x.toDouble * x).sum))) / 1e4
    }
    val exact = batch.map { case (qid, qv) =>
      qid -> corpus.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy(r => (-r._2, r._1)).take(3).map(_._1).toSeq
    }.toMap
    assert(got.keySet == batch.map(_._1).toSet, "every new vector gets an answer")
    val hits = batch.count { case (qid, _) => got(qid) == exact(qid) }
    assert(hits == batch.size,
      s"incremental top-3 != exact for ${batch.size - hits} of ${batch.size} batch vectors")
    // the Δ×corpus shape: candidates were cell-mates only, so each query
    // compared against far fewer than the whole corpus — top-3 rows out
    assert(got.values.forall(_.size == 3))
  }
}

class KvMetadataWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("M4 write: footer KV metadata attached via byte-level row-group copy") {
    val base = java.nio.file.Files.createTempDirectory("graft-kv").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(1).write.mode("overwrite").parquet(s"$base/src")
    val srcFile = graft.sources.Tools.parquetFiles(spark, s"$base/src").head.toString
    val dst = s"$base/with_kv.parquet"
    graft.sources.Tools.writeKeyValueMetadata(spark, srcFile, dst,
      Map("graft.owner" -> "kv-spec", "graft.round" -> "3"))
    val kv = graft.sources.Tools.keyValueMetadata(spark, dst)
    assert(kv.get("graft.owner").contains("kv-spec") && kv.get("graft.round").contains("3"))
    // Spark's schema KV entry survives the copy, and so does the data
    assert(kv.keys.exists(_.contains("spark")), s"spark schema key lost: ${kv.keys}")
    val back = spark.read.parquet(dst).as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("M4 write, distributed: every file of a table stamped, data intact") {
    val base = java.nio.file.Files.createTempDirectory("graft-kvd").toString
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(8).write.mode("overwrite").parquet(s"$base/src")
    val n = graft.sources.Tools.stampKeyValueMetadata(spark, s"$base/src",
      s"$base/dst", Map("graft.lineage" -> "job-42", "graft.round" -> "17"))
    assert(n === 8L, s"expected 8 files stamped, got $n")
    // EVERY output file carries the stamp + the preserved Spark schema key
    val conf = spark.sparkContext.hadoopConfiguration
    graft.sources.Tools.parquetFiles(spark, s"$base/dst").foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      val kv = try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
      } finally reader.close()
      assert(kv.get("graft.lineage").contains("job-42"), s"$f missing stamp")
      assert(kv.keys.exists(_.contains("spark")), s"$f lost the schema key")
    }
    // byte-copied row groups: the data round-trips exactly
    assert(spark.read.parquet(s"$base/dst").as[(Long, String)].collect().toSet
      === df.as[(Long, String)].collect().toSet)
  }

  test("M4 write, distributed: a hive-partitioned dir keeps each leaf's partition path") {
    val base = java.nio.file.Files.createTempDirectory("graft-kvh").toString
    // one task writes the same file name into both partition dirs
    val df = (0 until 100).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p")
    df.repartition(1).write.partitionBy("p").mode("overwrite").parquet(s"$base/src")
    assert(graft.sources.Tools.rowGroups(spark, s"$base/src").size === 2)
    val n = graft.sources.Tools.stampKeyValueMetadata(spark, s"$base/src",
      s"$base/dst", Map("graft.lineage" -> "hive"))
    assert(n === 2L, s"expected 2 files stamped, got $n")
    assert(graft.sources.Tools.parquetFiles(spark, s"$base/dst").forall(f =>
      graft.sources.Tools.keyValueMetadata(spark, f.toString).get("graft.lineage")
        .contains("hive")))
    assert(spark.read.parquet(s"$base/dst").as[(Long, String, Int)].collect().toSet
      === df.as[(Long, String, Int)].collect().toSet)
  }
}

class ClusterPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pairs form connected components with min-id labels") {
    // components: {1,2,3,4} (chain), {7,8}, {9} absent (no edges)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("pointer jumping: a 120-node path converges well inside maxIters") {
    // plain min-label propagation needs O(diameter) rounds — 120 here,
    // past the default maxIters of 20; the label-shortcut round doubles
    // reach per iteration, so this must converge (round-8 10× rehearsal
    // hit exactly this on similarity-chain components)
    val pairs = (0L until 119L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusterPairs(pairs).as[(Long, Long)].collect()
    assert(got.length == 120)
    assert(got.forall(_._2 == 0L))
  }

  test("the convergence probe reads footers, and fails fast on an unknown column") {
    val df = Seq((1L, false), (2L, true)).toDF("id", "chg")
    assert(graft.operators.Materialize.viaParquetAnyTrue(df, "cc_probe", "chg")._2)
    assert(!graft.operators.Materialize.viaParquetAnyTrue(
      df.filter(!col("chg")), "cc_probe", "chg")._2)
    // a misspelled column matches no footer column chunk, so every
    // block would read as "maybe true" and the loop could never converge
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Materialize.viaParquetAnyTrue(df, "cc_probe", "chng")
    }
    assert(ex.getMessage.contains("chng"))
  }

  test("the convergence probe finds a true row that sits only in the last of several files") {
    // eight files, one per range partition; only the highest id is true
    val df = spark.range(0, 800).repartitionByRange(8, col("id"))
      .select(col("id"), (col("id") === 799L).as("chg"))
    val (back, anyTrue) = graft.operators.Materialize.viaParquetAnyTrue(df, "cc_probe", "chg")
    assert(back.inputFiles.length == 8)
    assert(anyTrue)
    assert(!graft.operators.Materialize.viaParquetAnyTrue(
      df.filter(col("id") < 799L), "cc_probe", "chg")._2)
  }

  test("keep-one dedup policy over jaccard clusters on crafted dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely different content about spark query engines and parquet files"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text").filter(col("jaccard") >= 0.5)
    val clusters = Dedup.clusterPairs(pairs)
    val keep = docs.join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
    assert(keep.filter("keep").count() == 2)   // one of {1,2,4} + 3
  }
}

class BlockPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the block-matrix enumeration must be a pure re-plan of the all-pairs
  // relation: same pairs, same scores, no broadcast of the table
  test("exactCosinePairs == BNLJ all-pairs formulation, every pair exactly once") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val n = emb.count()
    val got = Similarity.exactCosinePairs(emb, "vec_id", "embedding")
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    // every unordered pair exactly once, ordered id_a < id_b
    assert(got.length == (n * (n - 1) / 2).toInt)
    assert(got.forall { case (a, b, _) => a < b })
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    // scores bit-identical to the broadcast BNLJ formulation it replaces
    val gd = graft.plans.GraftExtensions.graftDot(spark, _: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
    val e = emb.withColumn("nrm", sqrt(gd(col("embedding"), col("embedding"))))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val ref = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(gd(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos_sim"))
      .as[(Long, Long, Double)].collect()
    assert(got.sorted.toSeq == ref.sorted.toSeq)
  }

  test("q_embed_pairs plan has no full-table BroadcastNestedLoopJoin") {
    val plan = SparkEntry.queries("q_embed_pairs")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"scale-killer BNLJ back in the plan:\n$plan")
  }

  test("minCos filter and explicit block count are honored") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val all = Similarity.exactCosinePairs(emb, "vec_id", "embedding", numBlocks = 4)
    val strong = Similarity.exactCosinePairs(emb, "vec_id", "embedding", minCos = 0.45, numBlocks = 4)
    val viaFilter = all.filter(col("cos_sim") >= 0.45)
    assert(strong.exceptAll(viaFilter).count() == 0 && viaFilter.exceptAll(strong).count() == 0)
  }
}

class MultimodalNonAsciiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the registered q_multimodal_features oracle indexes CHARACTERS and is
  // valid only because the driver corpus is pure ASCII (documented in
  // PipelineQueries); this spec pins the engine's actual contract — the
  // decode operates on UTF-8 BYTES — on text where the two diverge
  test("feature extraction is byte-derived on non-ASCII text") {
    val docs = Seq(
      (1L, "héllo wörld"),            // 2-byte code points
      (2L, "数据 管道 引擎"),            // 3-byte CJK
      (3L, "mixed ascii + ürl ✓"))    // 1-, 2- and 3-byte mix
      .toDF("doc_id", "text")
    val got = Multimodal.extractFeatures(Multimodal.attachMedia(docs))
      .collect().map(f => f.doc_id -> f).toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      assert(got(id).n_bytes == bytes.length, s"doc $id: n_bytes must be UTF-8 bytes")
      assert(bytes.length > text.length || id == 3L || !text.exists(_ > 127))
      // expected bins from the same byte arithmetic the stub decode uses
      val expected = new Array[Int](16)
      bytes.take(1024).foreach { b =>
        expected((((b & 0xff) / 255.0f) * 15.999f).toInt) += 1
      }
      assert(got(id).bin_counts.toSeq == expected.toSeq,
        s"doc $id: bin counts must derive from UTF-8 bytes")
    }
  }
}

class PackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Packing

  test("prefixSum equals the naive single-partition running total") {
    val df = (0L until 500L).map(i => (i, (i % 37) + 1)).toDF("id", "n")
    val keyed = df.select(col("id"), Packing.shuffleKey(col("id")).as("key"),
      col("n").cast("long").as("n"))
    val got = Packing.prefixSum(keyed, col("key"), col("id"), col("n"), bucketBits = 4)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    // naive oracle: sort driver-side in (key, id) order and accumulate
    val rows = keyed.select("id", "key", "n").as[(Long, Long, Long)].collect()
      .sortBy { case (id, key, _) => (key, id) }
    var acc = 0L
    rows.foreach { case (id, _, n) =>
      acc += n
      assert(got(id) == acc, s"id $id: two-level prefix sum must match naive scan")
    }
  }

  test("packSequences invariants: offsets, spans, totals") {
    val df = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .withColumn("ntok", (pmod(col("doc_id") * 7, lit(90)) + 1))
    val packed = Packing.packSequences(df, "doc_id", col("ntok"), seqLen = 64)
      .select("doc_id", "n_tokens", "cum_tokens", "seq_id", "seq_offset", "n_seqs")
      .as[(Long, Int, Long, Long, Long, Long)].collect()
    val totalToks = packed.map(_._2.toLong).sum
    assert(packed.map(_._3).max == totalToks,
      "max cumulative offset must equal the corpus token total")
    packed.foreach { case (id, n, cum, seq, off, spans) =>
      assert(off >= 0 && off < 64, s"doc $id: offset in [0, seqLen)")
      assert(seq == (cum - n) / 64, s"doc $id: seq_id is the first token's slice")
      val expectSpans = (cum - 1) / 64 - (cum - n) / 64 + 1
      assert(spans == expectSpans, s"doc $id: span count")
    }
    // cum is a bijection onto running totals: distinct and dense
    assert(packed.map(_._3).distinct.length == packed.length)
  }
}

class SpanStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("spanStats flags exactly the recurring k-token windows") {
    // docs 1 and 2 share the 8-token prefix; doc 3 is disjoint
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$shared x y z"),
      (2L, s"$shared p q r"),
      (3L, "u v w aa bb cc dd ee ff gg")
    ).toDF("doc_id", "text")
    val got = Dedup.spanStats(docs, "doc_id", "text", k = 8)
      .select("id", "n_windows", "n_dup_windows", "dup_ratio")
      .as[(Long, Int, Int, Double)].collect()
      .map { case (id, a, b, r) => id -> (a, b, r) }.toMap
    // doc 1: 11 tokens -> 4 windows; only the pure prefix window recurs
    assert(got(1L) == ((4, 1, 0.25)), "doc 1: one duplicated window of four")
    assert(got(2L) == ((4, 1, 0.25)), "doc 2: mirror of doc 1")
    assert(got(3L) == ((3, 0, 0.0)), "doc 3: no shared spans")
  }

  test("hashed span keys give identical stats to string keys") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val str = Dedup.spanStats(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val hashed = Dedup.spanStats(docs, "doc_id", "text", k = 8, hashSpans = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(str == hashed, "8-byte hash keys must reproduce the string-key stats")
  }

  test("documents shorter than k have no windows and are absent") {
    val docs = Seq((1L, "only five tokens right here"), (2L, "a b c d e f g h i")).toDF("doc_id", "text")
    val ids = Dedup.spanStats(docs, "doc_id", "text", k = 8)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(2L))
  }
}

class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "completely different content about spark query engines and parquet files"),
    (3L, "yet another unrelated document talking about distributed systems theory")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (11L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (12L, "entirely novel text with no overlap whatsoever against anything stored")
  ).toDF("doc_id", "text")

  test("flags exact and near duplicates of the corpus, one row per new doc") {
    val got = Dedup.incrementalDedupFlags(batch, corpus, "doc_id", "text", minJaccard = 0.5)
      .select("id", "is_exact_dup", "near_dup_of", "best_jaccard")
      .as[(Long, Int, Option[Long], Option[Double])].collect()
      .map { case (id, e, n, j) => id -> ((e, n, j)) }.toMap
    assert(got.keySet == Set(10L, 11L, 12L), "every new doc appears exactly once")
    assert(got(10L)._1 == 1 && got(10L)._2.contains(1L) && got(10L)._3.contains(1.0))
    assert(got(11L)._1 == 0 && got(11L)._2.contains(1L) && got(11L)._3.exists(_ > 0.5))
    assert(got(12L) == ((0, None, None)), "novel doc carries no flags")
  }

  test("near-dup match never points at another new-batch doc") {
    // docs 10 and 11 are near-dups of EACH OTHER too; the incremental
    // contract only reports corpus matches
    val oldOnly = Dedup.incrementalDedupFlags(batch, corpus, "doc_id", "text", minJaccard = 0.5)
      .select("near_dup_of").as[Option[Long]].collect().flatten.toSet
    assert(oldOnly.subsetOf(Set(1L, 2L, 3L)))
  }
}

class QuantizationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("int8 round-trip: values bounded, zero vector guarded, error small") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.8f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),        // zero vector: scale 0
      (3L, Array(127.0f, -64.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs
      .withColumn("scale", quantScale(col("embedding")))
      .withColumn("qvec", quantizeInt8(col("embedding"), col("scale")))
      .withColumn("rmse", dequantRmse(col("embedding"), col("qvec"), col("scale")))
      .select("vec_id", "scale", "qvec", "rmse")
      .as[(Long, Double, Seq[Int], Double)].collect()
      .map { case (id, s, qv, e) => id -> ((s, qv, e)) }.toMap
    q.values.foreach { case (_, qv, _) =>
      assert(qv.forall(v => v >= -127 && v <= 127), "quantized values bounded") }
    val (s1, _, e1) = q(1L)
    assert(math.abs(s1 - 1.0 / 127.0) < 1e-12, "scale = max|x|/127")
    assert(e1 <= s1 / 2 + 1e-12, "per-element error bounded by half a quantization step")
    assert(q(2L) == ((0.0, Seq(0, 0, 0, 0), 0.0)), "zero vector: all-zero codes, zero error")
    assert(q(3L)._2.head == 127 && q(3L)._2(1) == -64, "extremes map to full range")
  }
}

class TokenBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Sampling

  private def corpus = (0L until 400L).map { i =>
    val lang = if (i % 4 == 0) "fr" else "en"
    (i, lang, 10L + (i % 7))   // ~5200 en tokens, ~1300 fr tokens
  }.toDF("doc_id", "lang", "n_tok")

  test("kept token mass approximates the budget; unbudgeted strata kept whole") {
    val sampled = Sampling.tokenBudgetSample(corpus, "doc_id", "lang",
      col("n_tok"), Map("en" -> 1000L))
    val rep = Sampling.tokenMixtureReport(corpus, sampled, "lang", col("n_tok"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, enTotal, enKept, _, _) = rep("en")
    assert(enKept < enTotal, "en must be downsampled")
    // slot sampling is binomial around the target; generous 2× band
    assert(enKept > 300 && enKept < 2000, s"en kept tokens far off budget: $enKept")
    val (_, frTotal, frKept, frDocs, frFrac) = rep("fr")
    assert(frKept == frTotal && frDocs == 100 && frFrac == 1.0, "fr kept whole")
  }

  test("sampling decision is deterministic and independent of partitioning") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.tokenBudgetSample(df, "doc_id", "lang", col("n_tok"), Map("en" -> 1000L))
        .select("doc_id").as[Long].collect().toSet
    assert(ids(corpus) == ids(corpus.repartition(13)), "same keep set under reshuffle")
  }
}

class TemperatureSampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Sampling

  // token mass skewed 8000 / 1500 / 300 across three strata
  private def corpus = (
    (0L until 500L).map(i => (i, "en", 16L)) ++
    (1000L until 1150L).map(i => (i, "fr", 10L)) ++
    (2000L until 2060L).map(i => (i, "yo", 5L))
  ).toDF("doc_id", "lang", "n_tok")

  test("alpha < 1 flattens the mixture: keep fraction rises as the stratum shrinks") {
    val sampled = Sampling.temperatureSample(corpus, "doc_id", "lang",
      col("n_tok"), alpha = 0.3, budgetTokens = 2000L)
    val rep = Sampling.tokenMixtureReport(corpus, sampled, "lang", col("n_tok"))
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // targets at alpha 0.3: en ~0.13, fr ~0.41, yo capped at 1.0 — the
    // realized fractions are binomial around the ppm targets, but their
    // ORDER is the property temperature sampling exists to produce
    assert(rep("en")._5 < rep("fr")._5 && rep("fr")._5 < rep("yo")._5,
      s"expected monotone boost toward small strata, got $rep")
    assert(rep("yo")._5 == 1.0, "a stratum whose alpha-share exceeds its mass is kept whole")
    val kept = rep.values.map(_._3).sum
    assert(kept > 1000 && kept < 4000, s"kept token mass far off the 2000 budget: $kept")
  }

  test("alpha = 1 reproduces the natural mixture: uniform keep fraction") {
    val sampled = Sampling.temperatureSample(corpus, "doc_id", "lang",
      col("n_tok"), alpha = 1.0, budgetTokens = 2000L)
    val rep = Sampling.tokenMixtureReport(corpus, sampled, "lang", col("n_tok"))
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // p_s = n_s / N for every stratum ⇒ frac_s = B/N ≈ 0.204 everywhere
    rep.values.foreach { case (lang, _, _, _, frac) =>
      assert(math.abs(frac - 2000.0 / 9800.0) < 0.1,
        s"$lang realized frac $frac far from the uniform 0.204 target") }
  }

  test("sampling decision is deterministic and independent of partitioning") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.temperatureSample(df, "doc_id", "lang", col("n_tok"),
        alpha = 0.3, budgetTokens = 2000L).select("doc_id").as[Long].collect().toSet
    assert(ids(corpus) == ids(corpus.repartition(13)), "same keep set under reshuffle")
  }
}

class KeepBestDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Dedup
  import graft.functions.TextFunctions.qualityScore

  test("keep-best policy keeps the highest-quality cluster member, not the min id") {
    // doc 1 (the MIN id) carries trailing stopword padding: same shingle
    // core as doc 2 (Jaccard ≈ 0.86 ≥ 0.6 ⇒ one cluster) but lower
    // quality (longer, poorer type-token ratio, stopword penalty)
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, core + " the the the the the the"),
      (2L, core),
      (9L, (100 to 160).map(i => s"other$i").mkString(" "))  // unrelated singleton
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text").filter(col("jaccard") >= 0.6)
    val clusters = Dedup.clusterPairs(pairs).select(col("id").as("doc_id"), col("cluster"))
    val quality = docs.select(col("doc_id"), qualityScore(col("text")).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("quality").desc, col("doc_id"))
    val out = clusters.join(quality, "doc_id")
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select("doc_id", "cluster", "keep").as[(Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L), "only paired docs appear; singletons need no decision")
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L, "one cluster labeled by its min id")
    assert(out(2L)._3 == 1, "the higher-quality member is kept")
    assert(out(1L)._3 == 0, "the min-id member is NOT kept when its quality is lower")
  }
}

class ShardSplitMaskSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Sampling

  test("shuffleShard: dense per-shard positions, shuffled order, deterministic") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val out = Sampling.shuffleShard(docs, "doc_id", numShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Int)].collect()
    assert(out.length == docs.count())
    // every document lands in exactly one shard; positions are dense 1..n
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"shard $sh positions not dense")
    }
    // the order WITHIN a shard is pseudo-random, not insertion order: ids
    // read in pos order must not come out ascending for every shard
    val monotoneShards = out.groupBy(_._2).values.count { rows =>
      val ids = rows.sortBy(_._3).map(_._1).toSeq
      ids == ids.sorted
    }
    assert(monotoneShards < 8, "shuffle produced insertion order in every shard")
    // reproducible: a re-run (different partitioning) yields identical rows
    val again = Sampling.shuffleShard(docs.repartition(13), "doc_id", numShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Int)].collect()
    assert(again.toSet == out.toSet)
  }

  test("splitAssign: 90/5/5 proportions, assignment stable as the corpus grows") {
    val docs = spark.range(0, 4000).toDF("doc_id")
    val full = Sampling.splitAssign(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val n = full.size.toDouble
    val frac = full.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.90) < 0.03, s"train frac ${frac("train")}")
    assert(math.abs(frac("val") - 0.05) < 0.03, s"val frac ${frac("val")}")
    assert(math.abs(frac("test") - 0.05) < 0.03, s"test frac ${frac("test")}")
    // growing the corpus must never move an existing doc across splits
    val prefix = Sampling.splitAssign(spark.range(0, 1000).toDF("doc_id"), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect()
    prefix.foreach { case (id, s) => assert(full(id) == s, s"doc $id moved to ${full(id)}") }
  }

  test("maskTokens: ~15% masked, unmasked tokens unchanged, length preserved") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val t = tokens(col("text"))
    val m = maskTokens(col("doc_id"), col("text"), 15)
    val rows = docs.select(
      size(t).as("nt"), size(m).as("nm"),
      size(filter(m, x => x === "[MASK]")).as("masked"),
      // every position is either untouched or the mask token
      size(filter(zip_with(t, m, (a, b) => a === b || b === "[MASK]"), ok => !ok)).as("bad"))
      .as[(Int, Int, Int, Int)].collect()
    assert(rows.forall { case (nt, nm, _, bad) => nt == nm && bad == 0 })
    val totalTok = rows.map(_._1.toLong).sum
    val totalMasked = rows.map(_._3.toLong).sum
    val rate = totalMasked.toDouble / totalTok
    assert(rate > 0.10 && rate < 0.20, s"global mask rate $rate far from 0.15")
    // deterministic: same (doc_id, pos) slots on every evaluation
    val again = docs.select(size(filter(m, x => x === "[MASK]")).as("masked"))
      .as[Int].collect().map(_.toLong).sum
    assert(again == totalMasked)
  }
}

class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("semantic dedup clusters: sketch-prefiltered path == exact-pair path") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    def clusters(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Dedup.clusterPairs(pairs.select(col("id_a"), col("id_b")))
        .select(col("id"), col("cluster"),
          (col("id") === col("cluster")).cast("int").as("keep"))
        .as[(Long, Long, Int)].collect().toSet
    val viaAnn = clusters(
      Similarity.annPairs(emb, "vec_id", "embedding", minCos = 0.45))
    val viaExact = clusters(
      Similarity.exactCosinePairs(emb, "vec_id", "embedding", minCos = 0.45))
    assert(viaAnn.nonEmpty, "corpus should contain at least one semantic near-dup pair")
    assert(viaAnn == viaExact)
    // keep-one policy: exactly one kept member per cluster, the min id
    val byCluster = viaAnn.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._3 == 1) == 1)
      assert(members.map(_._1).min == c)
    }
  }
}

class KnnClassifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("planted clusters: kNN vote recovers the cluster label, incl. a mislabeled point") {
    // two tight clusters along orthogonal axes plus small per-point jitter;
    // vector 99 sits IN cluster 0 but carries label 1 — its 5 nearest
    // neighbors are all true cluster-0 points, so the vote must flip it
    val rows = (0 until 20).map { i =>
      val cluster = i % 2
      val base = if (cluster == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      base(2 + cluster) = 0.01f * (i / 2)  // jitter breaks cosine ties
      (i.toLong, base.toSeq, cluster)
    } :+ (99L, Seq(1f, 0f, 0.001f, 0f), 1)
    val emb = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Similarity.knnClassify(emb, "vec_id", "embedding", "label", k = 5)
      .select(col("id"), col("pred_label"), col("is_correct"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 21, "every vector gets a prediction")
    assert(out(99L) == ((0, 0)), "mislabeled point corrected by its true cluster")
    // all genuine cluster members keep their label
    (0 until 20).foreach { i =>
      assert(out(i.toLong) == ((i % 2, 1)), s"vector $i misclassified")
    }
    // the scale path: ivfPairs-mined candidates feeding the same vote
    // pipeline must reproduce the exact predictions when cluster structure
    // puts each vector's true top-k in its cells (here it does)
    val viaIvf = Similarity.knnClassify(emb, "vec_id", "embedding", "label", k = 5,
        candidates = Some(Similarity.ivfPairs(emb, "vec_id", "embedding",
          k = 4, iters = 2, nAssign = 2)))
      .select(col("id"), col("pred_label"), col("is_correct"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(viaIvf == out, "candidate-mined kNN diverges from exact kNN")
  }
}

class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("planted two-point subspaces reconstruct exactly; codes bounded and deterministic") {
    // every subspace slice takes one of TWO exact values per vector, so a
    // k≥2 Lloyd codebook must land centroids ON those values → RMSE ~ 0
    val m = 4; val subDim = 2
    val u = Seq(1f, 2f); val w = Seq(-3f, 0.5f)
    val rows = (0 until 24).map { i =>
      val vec = (0 until m).flatMap(s => if (((i >> s) & 1) == 0) u else w)
      (i.toLong, vec)
    }
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val (codes, book, dim) = Similarity.pqEncode(emb, "vec_id", "embedding",
      m = m, k = 4, iters = 3)
    assert(dim == m * subDim)
    val c = codes.as[(Long, Int, Int)].collect()
    assert(c.length == 24 * m, "one code per (vector, subspace)")
    assert(c.forall { case (_, sub, cell) => sub >= 0 && sub < m && cell >= 0 && cell < 4 })
    val rmse = Similarity.pqReconstructionRmse(emb, "vec_id", "embedding",
        codes, book, m, dim)
      .as[(Long, Double)].collect().toMap
    assert(rmse.size == 24)
    assert(rmse.values.forall(_ < 1e-6), s"max rmse ${rmse.values.max}")
    // determinism: hash seeds + exact means ⇒ identical re-run
    val (codes2, _, _) = Similarity.pqEncode(emb, "vec_id", "embedding",
      m = m, k = 4, iters = 3)
    assert(codes2.as[(Long, Int, Int)].collect().toSet == c.toSet)

    // ADC search: with exact reconstruction, code-only distances equal
    // true distances, so PQ top-k must match the brute-force ranking
    val adc = Similarity.pqTopK(emb, "vec_id", "embedding", codes, book,
        m, dim, queryId = 0L, kTop = 5)
      .as[(Long, Double)].collect()
    val q = rows.head._2
    val exact = rows.tail.map { case (id, v) =>
      (id, v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble)
    }.sortBy(p => (p._2, p._1)).take(5)
    assert(adc.map(_._1).toSeq == exact.map(_._1).toSeq,
      s"ADC ranking ${adc.toSeq} != exact ${exact.toSeq}")
    adc.zip(exact).foreach { case ((_, ad), (_, ed)) =>
      assert(math.abs(ad - ed) < 1e-3, s"ADC distance $ad != exact $ed")
    }

    // consistency-check form: the triangle-inequality flag must hold on
    // every row (it is a theorem for a correct ADC — see pqAdcCheck)
    val chk = Similarity.pqAdcCheck(emb, "vec_id", "embedding", codes, book,
        m, dim, queryId = 0L, kTop = 10)
      .as[(Long, Double, Int)].collect()
    assert(chk.length == 10)
    assert(chk.forall(_._3 == 1), s"adc_ok must be all-1: ${chk.toSeq}")
  }
}

class HybridDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("text edges and semantic edges close into single components") {
    // Round-11 semantics: the semantic side derives the CLUSTERED corpus
    // (member = anchor(vec_id mod nC) + 0.1×own, nC = ceil(n/20)). With 40
    // vectors nC = 2: evens cluster around anchor 0, odds around anchor 1
    // (intra-cos ≈ 0.99 ≥ 0.9; cross ≲ 0.2). Docs 0 and 1 share text, so
    // ONE text edge bridges the two semantic clusters — plus the corpus
    // doubling (+100000) edges every doc to its copy. Everything must
    // close into a single component keyed by min id 0, with exactly one
    // keep.
    val e = Array(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val docs = (0L until 40L)
      .map(i => (i, if (i <= 1) "shared bridge text" else s"unique text $i"))
      .toDF("doc_id", "text")
    val emb = (0L until 40L).map(i => (i, e((i % 4).toInt), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("hybrid").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = PipelineQueries.queries("q_dedup_hybrid")(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(out.length == 80, s"40 members + 40 text copies, got ${out.length}")
    assert(out.forall(_._2 == 0L),
      s"the text bridge must close both semantic clusters into component 0: " +
        s"${out.filter(_._2 != 0L).take(5).toSeq}")
    assert(out.filter(_._3 == 1).map(_._1).toSeq == Seq(0L),
      "exactly one keeper, the min id")
  }
}

class PiiRedactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.TextFunctions

  test("redaction replaces every planted email/phone and counts them") {
    val docs = Seq(
      (1L, "reach me at alice.w@example.org or 555-1234 thanks"),
      (2L, "no contact info here at all"),
      (3L, "two mails a@b.com c.d@e.net and 123-4567 999-0000")).toDF("id", "text")
    val out = docs.select(col("id"),
        TextFunctions.piiCount(col("text"), TextFunctions.EmailPattern).as("ne"),
        TextFunctions.piiCount(col("text"), TextFunctions.PhonePattern).as("np"),
        TextFunctions.redactPii(col("text")).as("red"))
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(1L)._4 == "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(2L)._2 == 0 && out(2L)._3 == 0 && out(2L)._4 == "no contact info here at all")
    assert(out(3L)._2 == 2 && out(3L)._3 == 2)
    assert(out(3L)._4 == "two mails <EMAIL> <EMAIL> and <PHONE> <PHONE>")
  }
}

class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("30-min gap splits sessions; rollup counts and durations are exact") {
    // user 1: three events 10 min apart (one session), then one 2 h later;
    // user 2: a single event. ts is epoch-NANOS (the events table format —
    // see RelationalQueries.events)
    val base = 1704067200L * 1000000000L  // 2024-01-01T00:00:00Z
    def ts(min: Int) = base + min * 60L * 1000000000L
    val ev = Seq(
      (1L, 10L, ts(0), 1.0), (1L, 11L, ts(10), 2.0), (1L, 12L, ts(20), 3.0),
      (1L, 13L, ts(140), 4.0), (2L, 20L, ts(5), 5.0))
      .toDF("user_id", "event_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = RelationalQueries.queries("q_events_sessionize")(spark, dir)
      .select(col("user_id"), col("session_idx"), col("n_events"), col("duration_sec"))
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3, 1200L), (1L, 2L, 1, 0L), (2L, 1L, 1, 0L)))
  }

  test("funnel requires strict signup < view < purchase ordering per user") {
    val base = 1704067200L * 1000000000L
    def ts(min: Int) = base + min * 60L * 1000000000L
    // user 1 completes the funnel; user 2's view precedes signup (stage 1);
    // user 3's purchase precedes its view (stage 2); user 4 never signs up
    val ev = Seq(
      (1L, 1L, ts(0), "signup"), (1L, 2L, ts(5), "view"), (1L, 3L, ts(9), "purchase"),
      (2L, 4L, ts(0), "view"), (2L, 5L, ts(5), "signup"),
      (3L, 6L, ts(0), "signup"), (3L, 7L, ts(4), "purchase"), (3L, 8L, ts(8), "view"),
      (4L, 9L, ts(2), "view"), (4L, 10L, ts(3), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = RelationalQueries.queries("q_events_funnel")(spark, dir)
      .select(col("user_id"), col("stage"))
      .as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2))
  }
}

class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Retrieval

  test("bm25 matches the hand formula and orders by tf, length, and rarity") {
    // N=5, dl = 10,10,2,10,3, avgdl = 7; 'spark' df=3, 'join' df=1
    val docs = Seq(
      (1L, "spark " + Seq.fill(9)("x").mkString(" ")),          // tf=1, dl=10
      (2L, "spark spark " + Seq.fill(8)("x").mkString(" ")),    // tf=2, dl=10
      (3L, "spark y"),                                          // tf=1, dl=2
      (4L, "join " + Seq.fill(9)("x").mkString(" ")),           // rare term
      (5L, "z z z")                                             // no hits
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, "doc_id", "text", Seq("spark", "join"))
      .select(col("doc_id"), col("n_terms"), col("score"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "only hit docs are scored")
    def ref(tf: Int, dl: Int, dfq: Int): Double = {
      val idf = math.log(1.0 + (5 - dfq + 0.5) / (dfq + 0.5))
      val c = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 7.0))
      math.rint(c * 1e6) / 1e6
    }
    assert(math.abs(out(1L)._3 - ref(1, 10, 3)) < 1e-9, s"got ${out(1L)._3}, want ${ref(1, 10, 3)}")
    assert(out(2L)._3 > out(1L)._3, "higher tf scores higher")
    assert(out(3L)._3 > out(1L)._3, "shorter doc scores higher at equal tf (length norm)")
    assert(out(4L)._3 > out(1L)._3, "rarer term outscores common term (idf)")
    assert(out.values.forall(_._2 == 1L), "each doc matched exactly one distinct term")
  }

  test("bm25Multi equals per-query bm25 run separately") {
    val docs = Seq(
      (1L, "spark spark x x join y"),
      (2L, "join join join x x x x"),
      (3L, "filter spark x"),
      (4L, "y y y y")
    ).toDF("doc_id", "text")
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("filter"))
    val multi = Retrieval.bm25Multi(docs, "doc_id", "text", qs, kTop = 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .as[(String, Int, Long, Double)].collect().toSet
    // the union-term df/idf must equal what each single-query run computes
    // (df depends only on the term, never on the query batch)
    val single = qs.flatMap { case (q, ts) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(lit(1)).orderBy(col("score").desc, col("doc_id"))
      Retrieval.bm25(docs, "doc_id", "text", ts)
        .withColumn("rank", row_number().over(w).cast("int"))
        .select(lit(q).as("query_id"), col("rank"), col("doc_id"), col("score"))
        .as[(String, Int, Long, Double)].collect()
    }.toSet
    assert(multi == single)
  }
}

class ContainmentDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Dedup

  test("directed containment flags a wrapped sub-document that Jaccard misses") {
    // doc 1's text is a strict prefix of doc 2's: every 3-shingle of doc 1
    // appears in doc 2 => containment(1 in 2) = 1.0, while Jaccard =
    // 38/98 < 0.6 stays under the near-dup threshold
    val core = (1 to 40).map(i => s"tok$i").mkString(" ")
    val extra = (100 to 159).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, core + " " + extra),
      (9L, (200 to 260).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text")
    val row = pairs.filter(col("id_a") === 1L && col("id_b") === 2L)
      .select(col("inter"), col("size_a"), col("size_b"), col("jaccard"))
      .as[(Long, Long, Long, Double)].collect()
    assert(row.length == 1)
    val (inter, szA, _, jac) = row(0)
    assert(inter == szA, "every shingle of the sub-doc is contained")
    assert(jac < 0.6, s"symmetric Jaccard stays under the near-dup cut (got $jac)")
    assert(inter.toDouble / szA >= 0.8, "directed containment flags the pair")
  }
}

class SketchMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("HLL sketch union estimates the DISTINCT union, not the sum of partials") {
    // users 1–100 in type A, 51–150 in B: union = 150, naive sum = 200.
    // A merge that double-counts the 50-user overlap fails the bound.
    val rows = (1 to 100).map(u => ("A", u.toLong)) ++ (51 to 150).map(u => ("B", u.toLong))
    val df = rows.toDF("event_type", "user_id")
    val perType = df.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val est = perType.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("e"))
      .as[Long].collect()(0)
    assert(math.abs(est - 150L) <= 4, s"union estimate $est should be ~150, never ~200")
    val perEst = perType.withColumn("e", expr("hll_sketch_estimate(sk)"))
      .select(col("event_type"), col("e")).as[(String, Long)].collect().toMap
    assert(math.abs(perEst("A") - 100L) <= 3 && math.abs(perEst("B") - 100L) <= 3)
  }
}

class SketchFreqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merged per-stratum CMS == one sketch built over the whole input") {
    graft.plans.GraftExtensions.register(spark)
    // skewed planted counts: user 7 ×500, user 8 ×120, long tail ×1
    val rows = Seq.fill(500)(("A", 7L)) ++ Seq.fill(120)(("B", 8L)) ++
      (100L to 400L).map(u => (if (u % 2 == 0) "A" else "B", u))
    val df = rows.toDF("event_type", "user_id")
    val merged = df.groupBy(col("event_type"))
      .agg(expr("count_min_sketch(user_id, 0.0005d, 0.99d, 42)").as("sk"))
      .agg(expr("graft_cms_merge(sk)").as("msk"))
    val whole = df.agg(expr("count_min_sketch(user_id, 0.0005d, 0.99d, 42)").as("msk"))
    val probes = Seq(7L, 8L, 100L, 101L, 399L, 9999L) // 9999 absent
    def estimates(sketch: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      probes.map { u =>
        u -> sketch.select(expr(s"graft_cms_estimate(msk, ${u}L)").as("e"))
          .as[Long].collect()(0)
      }.toMap
    val em = estimates(merged)
    assert(em == estimates(whole),
      "counter-wise merge must equal the sketch of the concatenated input")
    // one-sided guarantee survives the merge; planted keys are estimable
    assert(em(7L) >= 500L && em(8L) >= 120L && em(100L) >= 1L)
  }

  test("merging sketches with different dimensions fails loudly") {
    graft.plans.GraftExtensions.register(spark)
    val a = Seq(("A", 1L)).toDF("g", "u")
      .agg(expr("count_min_sketch(u, 0.0005d, 0.99d, 42)").as("sk"))
    val b = Seq(("B", 2L)).toDF("g", "u")
      .agg(expr("count_min_sketch(u, 0.01d, 0.99d, 42)").as("sk"))
    val ex = intercept[Exception] {
      a.union(b).agg(expr("graft_cms_merge(sk)")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).map(c => Option(c.getMessage).getOrElse("")).exists(m =>
        m.toLowerCase.contains("merge") || m.toLowerCase.contains("incompatible")),
      s"expected an incompatible-merge failure, got $ex")
  }
}

class SketchQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merged per-stratum GK summaries answer corpus-wide quantiles within rank bound") {
    graft.plans.GraftExtensions.register(spark)
    // two disjoint strata: A = 1..1000, B = 2001..3000. Corpus p50 sits in
    // the gap — rank 1000/2000 ⇒ value in [~1000, ~2001]. A per-stratum
    // median (≈500 or ≈2500) CANNOT satisfy the bound, so the test proves
    // the merge aggregates rank information across strata.
    val rows = (1 to 1000).map(v => ("A", v.toDouble)) ++
      (2001 to 3000).map(v => ("B", v.toDouble))
    val df = rows.toDF("g", "v")
    val per = df.groupBy(col("g")).agg(expr("graft_quant_agg(v, 0.01d)").as("sk"))
    // per-stratum probe: rank error <= eps*n = 10 positions
    val perEst = per.withColumn("e", expr("graft_quant_q(sk, 0.5d)"))
      .select(col("g"), col("e")).as[(String, Double)].collect().toMap
    assert(math.abs(perEst("A") - 500.0) <= 12.0, s"A p50 ${perEst("A")}")
    assert(math.abs(perEst("B") - 2500.0) <= 12.0, s"B p50 ${perEst("B")}")
    // merged probe: corpus p50 rank 1000±40 of 2000 ⇒ value in the gap edge
    val m = per.agg(expr("graft_quant_q(graft_quant_merge(sk), 0.5d)").as("e"))
      .as[Double].collect()(0)
    assert(m >= 960.0 && m <= 2041.0, s"merged p50 $m must fall at the stratum gap")
    // p25 / p75 land inside each stratum
    val q25 = per.agg(expr("graft_quant_q(graft_quant_merge(sk), 0.25d)").as("e"))
      .as[Double].collect()(0)
    val q75 = per.agg(expr("graft_quant_q(graft_quant_merge(sk), 0.75d)").as("e"))
      .as[Double].collect()(0)
    assert(math.abs(q25 - 500.0) <= 45.0, s"merged p25 $q25")
    assert(math.abs(q75 - 2500.0) <= 45.0, s"merged p75 $q75")
  }

  test("quantile summary survives serialize/deserialize round-trip exactly") {
    graft.plans.GraftExtensions.register(spark)
    val df = (1 to 500).map(_.toDouble).toDF("v")
    val sk = df.agg(expr("graft_quant_agg(v, 0.01d)").as("sk"))
    // re-aggregate the serialized bytes through a merge — decode(encode(x))
    // must answer the same query as the original
    val direct = sk.select(expr("graft_quant_q(sk, 0.9d)").as("e")).as[Double].collect()(0)
    val reMerged = sk.agg(expr("graft_quant_q(graft_quant_merge(sk), 0.9d)").as("e"))
      .as[Double].collect()(0)
    assert(direct == reMerged, s"$direct != $reMerged after codec round-trip")
    assert(math.abs(direct - 450.0) <= 10.0)
  }

  test("null inputs are skipped and an all-null stratum yields a null sketch") {
    graft.plans.GraftExtensions.register(spark)
    val df = Seq(("A", Some(1.0)), ("A", None), ("A", Some(3.0)),
      ("B", None), ("B", None)).toDF("g", "v")
    val per = df.groupBy(col("g")).agg(expr("graft_quant_agg(v, 0.01d)").as("sk"))
    val skA = per.filter(col("g") === "A")
      .select(expr("graft_quant_q(sk, 0.5d)").as("e")).as[Double].collect()(0)
    assert(skA >= 1.0 && skA <= 3.0)
    assert(per.filter(col("g") === "B" && col("sk").isNull).count() == 1)
    // merge over a null partial ignores it rather than corrupting state
    val m = per.agg(expr("graft_quant_q(graft_quant_merge(sk), 0.5d)").as("e"))
      .as[Double].collect()(0)
    assert(m >= 1.0 && m <= 3.0)
  }
}

class GapfillSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gapfill emits the complete slot grid with LOCF'd gauges") {
    val rows = SparkEntry.queries("q_events_gapfill")(spark, TestSpark.sf)
      .select("event_type", "slot_start", "n", "is_gap", "filled_value")
      .as[(String, java.sql.Timestamp, Long, Int, Option[Double])].collect()
    // grid completeness: every series covers the same corpus-wide span,
    // slots exactly 900 s apart with no holes
    val bySeries = rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(_._2.getTime).sorted }
    val spans = bySeries.values.map(ts => (ts.head, ts.last, ts.length)).toSet
    assert(spans.size == 1, s"series spans differ: $spans")
    bySeries.values.foreach(ts =>
      ts.sliding(2).foreach(p => assert(p(1) - p(0) == 900000L)))
    // gap semantics: n == 0 <=> is_gap == 1; gaps exist at this SF
    assert(rows.forall { case (_, _, n, g, _) => (n == 0L) == (g == 1) })
    assert(rows.exists(_._4 == 1) && rows.exists(_._4 == 0))
    // LOCF: walking each series in slot order, a gap carries the last
    // observed value; observed slots show their own value
    bySeries.keys.foreach { t =>
      var lastSeen: Option[Double] = None
      rows.filter(_._1 == t).sortBy(_._2.getTime).foreach {
        case (_, slot, _, g, v) =>
          if (g == 1) assert(v == lastSeen, s"$t@$slot: LOCF broke: $v vs $lastSeen")
          else { assert(v.isDefined); lastSeen = v }
      }
    }
  }
}

class RandomProjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("projected components equal an independent BigDecimal reimplementation") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val got = SparkEntry.queries("q_embed_project")(spark, TestSpark.sf)
      .select("vec_id", "j", "comp").as[(Long, Int, Double)].collect()
    assert(got.length == emb.size * 8)
    // recompute a sample exactly: sign from the shared integer formula,
    // terms as 6-dp decimals summed in arbitrary order (order-free by
    // construction — that is the point of the decimal route)
    def sign(i: Int, j: Int): Int =
      if (((i * 131 + j * 137).toLong * 2654435761L) % 97 < 48) 1 else -1
    val sample = emb.keys.toSeq.sorted.take(5).toSet
    got.filter(g => sample(g._1)).foreach { case (id, j, comp) =>
      val want = emb(id).zipWithIndex.map { case (x, i) =>
        BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(sign(i, j))
      }.sum.toDouble
      assert(comp == want, s"vec $id comp $j: got $comp want $want")
    }
  }

  test("projection is linear: proj(x) + proj(y) == proj(x + y), exactly") {
    // dyadic inputs (multiples of 1/64) are exact as float AND as 6-dp
    // decimal, so the decimal-term projection makes linearity EXACT — any
    // fold-order or float drift would break equality
    def sign(i: Int, j: Int): Int =
      if (((i * 131 + j * 137).toLong * 2654435761L) % 97 < 48) 1 else -1
    def proj(v: Array[Float]): Array[BigDecimal] =
      Array.tabulate(8)(j => v.zipWithIndex.map { case (e, i) =>
        BigDecimal(e.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(sign(i, j))
      }.sum)
    val x = Array.tabulate(16)(i => (i - 8) / 64.0f)
    val y = Array.tabulate(16)(i => (16 - i) / 64.0f)
    val sum = x.zip(y).map { case (a, b) => a + b }   // exact float adds
    proj(x).zip(proj(y)).zip(proj(sum)).foreach { case ((px, py), ps) =>
      assert(px + py == ps, s"linearity broke: $px + $py != $ps")
    }
  }
}
