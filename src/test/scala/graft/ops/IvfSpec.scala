package graft.ops

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** IVF: centroids converge to planted cluster directions; nprobe search
  * recovers brute-force neighbors on clustered data.
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(n: Int, dim: Int = 64): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      val c = i % 8
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.05f)
      v(c * 8) += 1f
      i.toLong -> v
    }
  }

  test("fitCentroids: k centroids, each dominated by one planted direction") {
    val corpus = clustered(400).toDF("vec_id", "embedding")
    val cents = Ivf.fitCentroids(corpus, k = 8, iters = 3)
    val rows = cents.collect()
    assert(rows.length == 8)
    // every centroid's max-magnitude dim should be one of the planted axes (multiples of 8)
    rows.foreach { r =>
      val c = r.getSeq[Double](1)
      val maxDim = c.indices.maxBy(i => math.abs(c(i)))
      assert(maxDim % 8 == 0, s"centroid peaks at dim $maxDim")
    }
  }

  test("IVF top-k recall@5 >= 0.8 vs brute force on clustered data") {
    val corpus = clustered(400).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)
    val cents = Ivf.fitCentroids(corpus, k = 8, iters = 3)
    val brute = Similarity
      .bruteTopK(corpus, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Ivf
      .topK(corpus, queries, cents, k = 5, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.map { case (q, bs) =>
      ivf.get(q).map(is => is.intersect(bs).size.toDouble / bs.size).getOrElse(0.0)
    }
    val mean = recall.sum / recall.size
    assert(mean >= 0.8, s"IVF recall@5 = $mean")
  }

  test("assign mints zero new codegen classes for fresh centroid VALUES (r15 contract)") {
    // The r15 q109 cache fix rests on this property: assign's centroid
    // literals travel as codegen `references`, so a same-shape
    // projection over DIFFERENT centroid values compiles to the
    // IDENTICAL generated source and hits Spark's generated-class
    // cache across Lloyd iterations and bench reps. (Probed r15: this
    // holds for the typedLit form AND for unrolled foldable lit()
    // chains — ConstantFolding collapses the latter to the same single
    // array Literal — so the pin guards the PROPERTY, e.g. against a
    // future form whose values reach the source text, not the typedLit
    // spelling. NOTE the corpus must be parquet-backed: over a
    // LocalRelation Catalyst folds the whole projection driver-side
    // and nothing reaches codegen, making the assertion vacuous.)
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def centroids(shift: Double) =
      (0 until 4)
        .map(i => (i, Array.tabulate(64)(d => shift + 0.01 * (i * 64 + d))))
        .toDF("cluster_id", "centroid")
    // agg over cluster_id, NOT count(): count() lets Catalyst prune the
    // whole scored projection and the literals never reach codegen
    def run(shift: Double): Unit =
      Ivf.assign(corpus, centroids(shift)).agg(sum(col("cluster_id"))).collect()
    run(0.0) // compile the shape once
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    run(5.0) // same shape, new values
    val after = compiles
    assert(after - before == 0,
      s"assign with fresh centroid values compiled ${after - before} new classes " +
        "(generated source is no longer value-independent)")
  }

  test("q109 IVF-PQ two-stage serving: contract + audit sanity at sf0.001") {
    val r = graft.Queries.q109IvfPq(spark, "/root/testdata/sf0.001").collect().head
    assert(r.getAs[Long]("n_vectors") == 500)
    assert(r.getAs[Int]("compression_x") == 32)
    // a 2/16-cell probe must scan a small corpus fraction...
    val scanned = r.getAs[Double]("scanned_fraction")
    assert(scanned > 0.0 && scanned < 0.35, s"scanned_fraction=$scanned")
    // ...while the two-stage rerank keeps usable recall on that budget
    val recall = r.getAs[Double]("recall_at_k")
    assert(recall >= 0.4, s"recall_at_k=$recall (cells=16, nprobe=2, shortlist=40)")
  }
}
