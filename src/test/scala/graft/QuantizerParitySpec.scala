package graft

import graft.operators.{Materialize, Similarity}
import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The relational Lloyd loops the quantizers ran before the shared
  * kernel: every mean step explodes the vectors to (id, d, x) rows, joins
  * the assignment and averages per (cell, d); every reassignment scores
  * broadcast centroid arrays with `graft_dot`. Kept here as the reference
  * the driver-side kernel must reproduce. */
object RelationalLloyd {

  private def centroidArrays(cents: DataFrame, keys: Seq[String], dCol: String): DataFrame =
    cents.groupBy((keys :+ "cell").map(col): _*)
      .agg(sort_array(collect_list(struct(col(dCol), col("c")))).as("dc"))
      .select((keys :+ "cell").map(col) ++ Seq(
        transform(col("dc"), e => e.getField("c").cast("float")).as("cvec"),
        aggregate(col("dc"), lit(0.0),
          (acc, e) => acc + e.getField("c") * e.getField("c")).as("cc")): _*)

  private def dist(spark: SparkSession, v: String) =
    (col("cc") - lit(2.0) * GraftExtensions.graftDot(spark, col(v), col("cvec"))).as("dist")

  /** (assign (id, cell), centroids (cell, d, c)). */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val parts = emb.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .withColumn("x", col("x").cast("double"))
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    var assign = Similarity.lshSignatures(emb, idCol, vecCol, bits = 16)
      .select(col("id"), pmod(col("sig"), lit(k)).cast("int").as("cell"))
    for (_ <- 0 until iters) {
      val cents = parts.join(assign, "id")
        .groupBy(col("cell"), col("d")).agg(avg(col("x")).as("c"))
      assign = vecs.crossJoin(broadcast(centroidArrays(cents, Nil, "d")))
        .select(col("id"), col("cell"), dist(spark, "vec"))
        .groupBy(col("id"))
        .agg(min(struct(col("dist"), col("cell"))).as("m"))
        .select(col("id"), col("m.cell").as("cell"))
    }
    val assignM = Materialize.viaParquet(assign, "ref_ivf_assign")
    (assignM, parts.join(assignM, "id")
      .groupBy(col("cell"), col("d")).agg(avg(col("x")).as("c")))
  }

  /** The IMI half quantizers: (h, cell, d, c). */
  def trainHalfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      half: Int, dim: Int, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val halves = emb.select(col(idCol).as("id"), posexplode(array(
        slice(col(vecCol), 1, half), slice(col(vecCol), half + 1, dim - half)))
      .as(Seq("h", "hvec")))
    val parts = halves.select(col("id"), col("h"),
        posexplode(col("hvec")).as(Seq("d", "x")))
      .withColumn("x", col("x").cast("double"))
    val projs = (0 until 16).map { j =>
      sum(when(pmod(xxhash64(lit(42), lit(j) * 65537 + col("d")), lit(2)) === 0,
        col("x")).otherwise(-col("x"))).as(s"p$j")
    }
    var assign = parts.groupBy(col("id"), col("h"))
      .agg(projs.head, projs.tail: _*)
      .select(col("id"), col("h"),
        pmod((0 until 16).map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, c) => a.bitwiseOR(c)), lit(k)).cast("int").as("cell"))
    var cents: DataFrame = null
    for (i <- 0 until math.max(1, iters)) {
      cents = parts.join(assign, Seq("id", "h"))
        .groupBy(col("h"), col("cell"), col("d")).agg(avg(col("x")).as("c"))
      if (i < iters - 1)
        assign = halves.join(broadcast(centroidArrays(cents, Seq("h"), "d")), "h")
          .select(col("id"), col("h"), col("cell"), dist(spark, "hvec"))
          .groupBy(col("id"), col("h"))
          .agg(min(struct(col("dist"), col("cell"))).as("m"))
          .select(col("id"), col("h"), col("m.cell").as("cell"))
    }
    Materialize.viaParquet(cents, "ref_imi_cents")
  }

  /** The (id, cl, cr) product against (h, cell, d, c) centroids. */
  def assignHalfProduct(df: DataFrame, idCol: String, vecCol: String,
      half: Int, dim: Int, cents: DataFrame, nAssign: Int): DataFrame = {
    val spark = df.sparkSession
    val scored = df.select(col(idCol).as("id"), posexplode(array(
        slice(col(vecCol), 1, half), slice(col(vecCol), half + 1, dim - half)))
      .as(Seq("h", "hvec")))
      .join(broadcast(centroidArrays(cents, Seq("h"), "d")), "h")
      .select(col("id"), col("h"), col("cell"), dist(spark, "hvec"))
    val w = Window.partitionBy(col("id"), col("h")).orderBy(col("dist"), col("cell"))
    val topn = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nAssign).select(col("id"), col("h"), col("cell"))
    topn.filter(col("h") === 0).select(col("id"), col("cell").as("cl"))
      .join(topn.filter(col("h") === 1).select(col("id"), col("cell").as("cr")), "id")
  }

  /** (codes (id, sub, cell), codebook (sub, cell, cvec, cc)). */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val subDim = dim / m
    val subs = emb.select(col(idCol).as("id"), posexplode(
      array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("sub", "svec")))
    def means(codes: DataFrame) = subs
      .select(col("id"), col("sub"), posexplode(col("svec")).as(Seq("dpos", "x")))
      .withColumn("x", col("x").cast("double"))
      .join(codes, Seq("id", "sub"))
      .groupBy(col("sub"), col("cell"), col("dpos")).agg(avg(col("x")).as("c"))
    var codes = subs.select(col("id"), col("sub"),
      pmod(xxhash64(col("svec")), lit(k)).cast("int").as("cell"))
    for (_ <- 0 until iters)
      codes = subs.join(broadcast(centroidArrays(means(codes), Seq("sub"), "dpos")), "sub")
        .select(col("id"), col("sub"), col("cell"), dist(spark, "svec"))
        .groupBy(col("id"), col("sub"))
        .agg(min(struct(col("dist"), col("cell"))).as("m"))
        .select(col("id"), col("sub"), col("m.cell").as("cell"))
    val codesM = Materialize.viaParquet(codes, "ref_pq_codes")
    (codesM, centroidArrays(means(codesM), Seq("sub"), "dpos"))
  }
}

/** The shared Lloyd kernel ([[Similarity]]'s `lloyd` + `graft_nearest_cells`)
  * against the relational reference, at the registered queries' settings
  * on the sf0.01 clustered corpus: same cells and codes, centroids within
  * 1e-9. */
class QuantizerParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
  private lazy val corpus = Materialize.viaParquet(
    PipelineQueries.clusteredEmbeddings(spark.read.parquet(s"$sfDir/embeddings.parquet"))._1,
    "parity_corpus")

  private def rows3(df: DataFrame, a: String, b: String, c: String): Set[(Long, Int, Int)] =
    df.select(col(a).cast("long"), col(b).cast("int"), col(c).cast("int"))
      .as[(Long, Int, Int)].collect().toSet

  /** (key, cell, d) → c, with `-1` as the key of a keyless table. */
  private def cents(df: DataFrame, key: Option[String], d: String): Map[(Int, Int, Int), Double] =
    df.select(key.map(col).getOrElse(lit(-1)).cast("int"), col("cell").cast("int"),
        col(d).cast("int"), col("c"))
      .as[(Int, Int, Int, Double)].collect()
      .map { case (k, cell, dd, c) => (k, cell, dd) -> c }.toMap

  private def assertClose(got: Map[(Int, Int, Int), Double],
      want: Map[(Int, Int, Int), Double]): Unit = {
    assert(got.keySet == want.keySet)
    val worst = want.map { case (key, c) => math.abs(got(key) - c) }.max
    assert(worst <= 1e-9, s"centroid drift $worst")
  }

  test("IMI: the same (id, cl, cr) product and half centroids") {
    val n = corpus.count()
    val k = math.max(4, math.ceil(math.sqrt(n / 20.0)).toInt)
    val refCents = RelationalLloyd.trainHalfCentroids(corpus, "vec_id", "embedding",
      32, 64, k, 2)
    val refProduct = RelationalLloyd.assignHalfProduct(corpus, "vec_id", "embedding",
      32, 64, refCents, 2)
    val index = Similarity.imiBuildIndex(corpus, "vec_id", "embedding", nAssign = 2)
    val got = rows3(index.corpusCells, "id", "cl", "cr")
    assert(got.size == n * 4)
    assert(got == rows3(refProduct, "id", "cl", "cr"))
    assertClose(cents(index.cents, Some("h"), "d"), cents(refCents, Some("h"), "d"))
  }

  test("IVF: the same (id, cell) assignment and centroids") {
    val (refAssign, refCents) = RelationalLloyd.ivfIndex(corpus, "vec_id", "embedding", 16, 2)
    val (assign, cs) = Similarity.ivfIndex(corpus, "vec_id", "embedding", k = 16, iters = 2)
    val want = refAssign.select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    assert(assign.select(col("id"), col("cell")).as[(Long, Int)].collect().toSet == want)
    assert(want.map(_._2).size > 1)
    assertClose(cents(cs, None, "d"), cents(refCents, None, "d"))
  }

  test("PQ: the same codes and codebook") {
    val (refCodes, refBook) = RelationalLloyd.pqEncode(corpus, "vec_id", "embedding",
      8, 16, 2, 64)
    val (codes, book, dim) = Similarity.pqEncode(corpus, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    assert(dim == 64)
    assert(rows3(codes, "id", "sub", "cell") == rows3(refCodes, "id", "sub", "cell"))
    def flat(b: DataFrame) = b.select(col("sub"), col("cell"),
        posexplode(col("cvec")).as(Seq("d", "c")), col("cc"))
    val got = flat(book).select("sub", "cell", "d", "c", "cc")
      .as[(Int, Int, Int, Float, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    val want = flat(refBook).select("sub", "cell", "d", "c", "cc")
      .as[(Int, Int, Int, Float, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (key, (c, cc)) =>
      assert(got(key)._1 == c, s"cvec differs at $key")
      assert(math.abs(got(key)._2 - cc) <= 1e-9, s"cc differs at $key")
    }
  }

  test("a streaming IMI sink resumes from an _index_cents table in the (h, cell, d, c) layout") {
    val n = corpus.count()
    val k = math.max(4, math.ceil(math.sqrt(n / 20.0)).toInt)
    val refCents = RelationalLloyd.trainHalfCentroids(corpus, "vec_id", "embedding",
      32, 64, k, 2)
    val base = java.nio.file.Files.createTempDirectory("graft-imiresume").toString
    val centsDir = s"$base/out/_index_cents"
    refCents.write.parquet(centsDir)
    graft.sources.Fs.createMarker(s"$centsDir/_SAVED", centsDir)
    val saved = cents(spark.read.parquet(centsDir), Some("h"), "d")
    // the reloaded quantizer assigns the corpus to the reference cells
    val index = Similarity.imiBuildIndexFrom(spark.read.parquet(centsDir), corpus,
      "vec_id", "embedding", nAssign = 2)
    assert(rows3(index.corpusCells, "id", "cl", "cr") == rows3(
      RelationalLloyd.assignHalfProduct(corpus, "vec_id", "embedding", 32, 64, refCents, 2),
      "id", "cl", "cr"))
    // and a sink started over that dir quantizes under it without
    // retraining: a near-copy of corpus vector 7 flags against it
    val v7 = corpus.filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    Seq((900000L, v7.map(_ + 0.001f))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$base/in/f0")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val q = graft.streaming.Streams.semanticDedupSink(
      spark.readStream.schema(schema).parquet(s"$base/in/*"),
      corpus.select("vec_id", "embedding"), s"$base/out", s"$base/ckpt",
      "vec_id", "embedding", minCos = 0.9)
    try q.processAllAvailable() finally q.stop()
    assert(cents(spark.read.parquet(centsDir), Some("h"), "d") == saved)
    val got = spark.read.parquet(s"$base/out").filter(col("id") === 900000L)
      .select("is_dup").as[Int].collect().toSeq
    assert(got == Seq(1))
  }
}
