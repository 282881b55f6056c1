package graft.expr

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** The native codegen'd sketch ([[LshBuckets]], on every production
  * bucket path since round 5) must stay BIT-IDENTICAL to the interpreted
  * composed-Column reference it replaced (`Similarity.lshBucket`, kept
  * as the documented fallback): same planes (seed 7700+t per table),
  * same sign rule, same bit fold. This is the explicit equivalence pin
  * the two implementations' scaladocs cite.
  */
class LshBucketsSpec extends SparkSpec {
  import spark.implicits._

  test("native LshBuckets ≡ interpreted lshBucket fold, every table, every row") {
    val dim = 16
    val nbits = 5
    val tables = 4
    // deterministic pseudo-random vectors incl. negatives and zeros
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(dim)(d => (((i * 31 + d * 17) % 19) - 9).toFloat / 9f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // read through bucketIndex: the (id, tbl, bucket) rows the LSH queries join on
    val native = Similarity
      .bucketIndex(df, "vec_id", "embedding", nbits, tables, dim)
      .as[(Long, Int, Long)]
      .collect()
      .map { case (id, t, b) => (id, t) -> b }
      .toMap
    (0 until tables).foreach { t =>
      val interpreted = df
        .select(col("vec_id"), Similarity.lshBucket(col("embedding"), nbits, dim, 7700L + t).as("b"))
        .as[(Long, Long)]
        .collect()
      interpreted.foreach { case (id, b) =>
        assert(native((id, t)) == b, s"table $t vec $id: native ${native((id, t))} != interpreted $b")
      }
    }
  }
}
