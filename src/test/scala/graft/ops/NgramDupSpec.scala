package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ops/NgramDup: positional-shingle extraction and the duplicated-span
  * census against hand-computed corpora, including the short-doc and
  * intra-document-repeat corners.
  */
class NgramDupSpec extends SparkSpec {

  import spark.implicits._

  test("shingles: every width-w span at its position, short docs contribute none") {
    val df = Seq(
      (1L, "a b c d"), // spans of width 3: "a b c", "b c d"
      (2L, "x y") // shorter than w => none
    ).toDF("doc_id", "text")
    val got = NgramDup
      .shingles(df, "text", 3, Seq("doc_id"))
      .as[(Long, String)]
      .collect()
      .toSeq
      .sorted
    assert(got == Seq((1L, "a b c"), (1L, "b c d")))
    val withPos = NgramDup
      .shingles(df, "text", 3, Seq("doc_id"), withPos = true)
      .as[(Long, Int, String)]
      .collect()
      .toSeq
      .sorted
    assert(withPos == Seq((1L, 1, "a b c"), (1L, 2, "b c d")))
  }

  test("docProfile: cross-doc and intra-doc repeats both count as duplicated") {
    val df = Seq(
      (1L, "a b c d"), // "a b c" shared with doc 2; "b c d" unique
      (2L, "a b c x"), // "a b c" shared; "b c x" unique
      (3L, "p q p q p q") // "p q p"x2, "q p q"x2 — all 4 spans intra-dup
    ).toDF("doc_id", "text")
    val prof = NgramDup
      .docProfile(df, "text", 3, Seq("doc_id"))
      .as[(Long, Long, Long)]
      .collect()
      .map { case (id, n, d) => id -> ((n, d)) }
      .toMap
    assert(prof(1L) == (2L, 1L))
    assert(prof(2L) == (2L, 1L))
    assert(prof(3L) == (4L, 4L))
  }

  test("removalProfile: first occurrence survives, repeats die, coverage unions overlaps") {
    val df = Seq(
      (1L, "a b c d e"), // first occurrences of everything — nothing removed
      (2L, "a b c x y"), // "a b c" repeats doc 1 → tokens 1-3 removed
      (3L, "a b c d e"), // every span repeats doc 1 → fully gutted
      (4L, "p q") // shorter than w — no spans, nothing removable
    ).toDF("doc_id", "text")
    val prof = NgramDup
      .removalProfile(df, "text", 3, "doc_id")
      .as[(Long, Long, Long)]
      .collect()
      .map { case (id, n, r) => id -> ((n, r)) }
      .toMap
    assert(prof(1L) == (5L, 0L))
    assert(prof(2L) == (5L, 3L))
    assert(prof(3L) == (5L, 5L))
    assert(prof(4L) == (2L, 0L))
  }

  test("removalProfile: intra-doc repeats keep only the first span's tokens") {
    // "a b a b a b": width-3 spans at 1..4 = "a b a","b a b","a b a","b a b"
    // — spans 3,4 are repeats of 1,2 ⇒ tokens 3..6 covered, tokens 1..2
    // only by first occurrences ⇒ 4 removed of 6
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val prof = NgramDup.removalProfile(df, "text", 3, "doc_id").collect()(0)
    assert(prof.getLong(1) == 6L && prof.getLong(2) == 4L)
  }

  test("sourceCensus: integer ppm, span-less docs still counted in n_docs") {
    val df = Seq(
      (1L, "a b c d", "s1"),
      (2L, "a b c x", "s1"),
      (3L, "z", "s1"), // no spans
      (4L, "p q p q p q", "s2")
    ).toDF("doc_id", "text", "source")
    val rows = NgramDup
      .sourceCensus(df, "text", 3)
      .orderBy("source")
      .collect()
    val s1 = rows(0)
    assert(s1.getString(0) == "s1")
    assert(s1.getLong(1) == 3L) // n_docs counts the span-less doc
    assert(s1.getLong(2) == 2L) // n_docs_spanned does not
    assert(s1.getLong(3) == 4L && s1.getLong(4) == 2L)
    assert(s1.getLong(5) == 500000L) // 2/4 duplicated
    assert(s1.getLong(6) == 0L) // 50% is not > 50%
    val s2 = rows(1)
    assert(s2.getLong(3) == 4L && s2.getLong(4) == 4L)
    assert(s2.getLong(5) == 1000000L && s2.getLong(6) == 1L)
  }
}
