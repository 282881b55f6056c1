package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Near-dup detection on planted duplicates: MinHash+LSH must find the
  * planted pairs (high Jaccard) and reject unrelated docs; SimHash
  * hamming distance must separate near-dups from strangers.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // d1/d2 differ by one token out of 12 (Jaccard 11/13 ≈ 0.85 on sets);
  // d3 is a verbatim copy of d1; d4 shares nothing.
  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (4L, "one two three four five six seven eight nine ten eleven twelve")
  ).toDF("doc_id", "text")

  test("minhash near-dups: verbatim copy found at threshold 0.99") {
    val pairs = TextDedup
      .nearDupsMinhash(docs, "doc_id", "text", threshold = 0.99)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs == Set((1L, 3L)))
  }

  test("minhash near-dups: one-token-off pair found at 0.8, stranger excluded") {
    val pairs = TextDedup
      .nearDupsMinhash(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccard expression matches hand computation") {
    val j = docs
      .filter(col("doc_id").isin(1L, 2L))
      .agg(collect_list(col("text")))
      .as[Seq[String]]
      .collect()
      .head
    val sets = j.map(_.split(" ").toSet)
    val expected = sets(0).intersect(sets(1)).size.toDouble / sets(0).union(sets(1)).size
    val got = Seq((docs.filter(col("doc_id") === 1L).select("text").as[String].head(),
                   docs.filter(col("doc_id") === 2L).select("text").as[String].head()))
      .toDF("a", "b")
      .select(TextDedup.jaccard(TextDedup.tokenSet(col("a")), TextDedup.tokenSet(col("b"))))
      .as[Double]
      .collect()
      .head
    assert(math.abs(got - expected) < 1e-12)
  }

  test("simhash: identical docs equal, near-dups close, strangers far") {
    val sigs = docs
      .select(col("doc_id"), TextDedup.simhash64(TextDedup.tokenSet(col("text"))).as("sh"))
      .as[(Long, Long)]
      .collect()
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(3L))
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(4L)))
    assert(ham(sigs(1L), sigs(2L)) <= 16)
  }

  test("shingle-mode minhash: reordered doc is NOT a near-dup of the original") {
    // same token set, different order: token-set minhash calls them
    // identical; 3-shingle minhash must reject
    val docs2 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "mu lambda kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val tokenPairs = TextDedup
      .nearDupsMinhash(docs2, "doc_id", "text", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tokenPairs == Set((1L, 2L), (1L, 3L), (2L, 3L))) // sets identical
    val shinglePairs = TextDedup
      .nearDupsMinhash(docs2, "doc_id", "text", threshold = 0.9, shingleSize = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(shinglePairs == Set((1L, 3L))) // only the verbatim copy
  }

  test("ngram near-dups: copy found within block, cross-block pair ignored") {
    val blocked = docs.withColumn("src", when(col("doc_id") <= 3, "s1").otherwise("s2"))
    val pairs = TextDedup
      .nearDupsNgram(blocked, "doc_id", "text", "src", n = 2, threshold = 0.9)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("q48 in-registry recall: 16x16 minhash finds >=95% of exact pairs, zero false positives") {
    val r = graft.Queries.q48MinhashRecall(spark, "/root/testdata/sf0.01").collect().head
    assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_exact"), s"false positives: $r")
    assert(r.getAs[Double]("recall") >= 0.95, s"recall regressed: $r")
  }

  test("dedupAssignments: identical docs share one rep, only reps kept, rep_id <= doc_id") {
    val df = Seq(
      (10L, "a b c"), (11L, "a b c"), (13L, "a b c"), // identical class
      (12L, "x y z"), // its own class
      (14L, "a b c d e f g h i j k l m n o p") // long unrelated doc
    ).toDF("doc_id", "text")
    val out = TextDedup
      .dedupAssignments(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(Seq(10L, 11L, 13L).forall(out(_)._1 == 10L), s"class split: $out")
    assert(out(10L)._2 && !out(11L)._2 && !out(13L)._2)
    assert(out(12L) == (12L, true) && out(14L) == (14L, true))
    assert(out.forall { case (id, (rep, kept)) => rep <= id && kept == (rep == id) })
  }
}
