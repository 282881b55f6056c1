package graft.ops

import graft.{SourceScan, SparkSpec}
import org.apache.spark.sql.functions._

/** PII redaction and stratified-sampling units (the oracle batteries
  * q21-q26, q52, q53 cover the full surfaces; these pin edge cases).
  */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii: multiple emails and phones, clean text untouched") {
    val rows = Seq(
      "write a@b.io or c.d_e@mail-srv.co.uk today",
      "call +49 30 123456 or 555-123-4567 now",
      "no pii here at all",
      "mixed-case John.Doe@Example.COM leaks otherwise"
    ).toDF("t")
    val out = rows.select(TextStats.redactPii(col("t")).as("r")).as[String].collect().toSeq
    assert(out(0) == "write <EMAIL> or <EMAIL> today")
    assert(out(1) == "call <PHONE> or <PHONE> now")
    assert(out(2) == "no pii here at all")
    assert(out(3) == "mixed-case <EMAIL> leaks otherwise")
  }

  test("gopher char masses: hand-computed top-2-gram and dup-5-gram") {
    // "a b a b a" → 2-grams: "a b","b a","a b","b a"; top mass = 2·(3−1) = 4
    // 5-grams: one gram ("a b a b a") → dup mass 0
    val df = Seq("a b a b a").toDF("t")
      .withColumn("toks", TextStats.tokens(col("t")))
      .withColumn("g2", TextStats.ngrams(col("toks"), 2))
      .withColumn("g5", TextStats.ngrams(col("toks"), 5))
    val row = df.select(
      TextStats.topNgramCharMass(col("g2"), 2).as("m2"),
      TextStats.dupNgramCharMass(col("g5"), 5).as("d5")
    ).head()
    assert(row.getLong(0) == 4L)
    assert(row.getLong(1) == 0L)

    // repeated 5-gram: "x y z w v" twice in sequence → the repeated
    // window contributes (count−1)·charlen for each duplicated 5-gram
    val rep = Seq("x y z w v x y z w v").toDF("t")
      .withColumn("toks", TextStats.tokens(col("t")))
      .withColumn("g5", TextStats.ngrams(col("toks"), 5))
    val d5 = rep.select(TextStats.dupNgramCharMass(col("g5"), 5).as("d5")).head().getLong(0)
    // 10 tokens → six 5-grams; only "x y z w v" occurs twice (positions
    // 1 and 6): dup mass = 1·(9−4) = 5
    assert(d5 == 5L)
  }

  test("gopher rules: truncated short doc clamps to zero mass; keep composes") {
    // 1 single-char token: the truncated 2-gram "x" has charlen
    // length−1 = 0, and for n≥3 the charlen goes negative and must
    // clamp to 0 via the greatest(0, …) init — both give zero mass
    val df = Seq(
      (1L, "x"),
      (2L, ("the a of and " + (1 to 60).map(i => s"tok$i").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = TextStats.withGopherRules(df, "text")
      .select("doc_id", "top2gram_char_frac", "dup5gram_char_frac", "word_count_ok", "keep")
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    assert(out(1L).getDouble(1) == 0.0)
    assert(out(1L).getDouble(2) == 0.0)
    assert(!out(1L).getBoolean(3)) // 1 word < 50
    assert(!out(1L).getBoolean(4))
    assert(out(2L).getBoolean(3)) // 64 words
    assert(out(2L).getBoolean(4)) // unique tokens, stopwords present
  }

  test("stratifiedSample: exact quota per group, deterministic across runs") {
    val df = (0 until 300).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "id")
    val s1 = TextStats.stratifiedSample(df, "g", "id", 7)
      .select("g", "id").as[(String, Long)].collect().sorted.toSeq
    val s2 = TextStats.stratifiedSample(df.repartition(13), "g", "id", 7)
      .select("g", "id").as[(String, Long)].collect().sorted.toSeq
    assert(s1 == s2, "sample changed with partitioning")
    assert(s1.groupBy(_._1).forall(_._2.size == 7))
  }

  /** A Spark `split(x, "\\s+")` spells the tokenize rule out by hand;
    * the single-space `split(x, " ")` and the SQL-string `'\\s+'` are
    * other rules and do not match. */
  private val tokenizeCopy = """\bsplit\(.*,\s*"\\\\s\+"\s*\)""".r

  test("the tokenize rule lives only in ops/TextStats.scala") {
    val found = for {
      (file, n, line) <- SourceScan.linesOutside("graft/ops/TextStats.scala")
      if tokenizeCopy.findFirstIn(line).isDefined
    } yield s"$file:$n: ${line.trim}"
    assert(found.isEmpty, found.mkString(s"${found.size} copies; use TextStats.tokens instead:\n", "\n", ""))
  }
}
