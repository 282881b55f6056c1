package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reliable-checkpoint backend (VERDICT r8 task 1): every iterative
  * operator truncates lineage through [[Checkpoints.cut]], which flips
  * from executor-local `localCheckpoint(true)` to durable
  * `df.checkpoint()` when `spark.graft.checkpoint.dir` is set — the cluster
  * posture where an executor loss must not kill a twenty-round
  * iterative job. These rungs prove (a) results are backend-invariant,
  * (b) the reliable path REALLY writes RDD checkpoint files to the
  * configured dir, (c) the default path touches no filesystem.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def chainGraph =
    (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def withReliableDir[A](f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    spark.conf.set("spark.graft.checkpoint.dir", dir.getAbsolutePath)
    try f(dir)
    finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("cut: default backend is localCheckpoint — no dir configured, no files") {
    assert(Checkpoints.reliableDir(spark).isEmpty)
    val cut = Checkpoints.cut(Seq(1, 2, 3).toDF("x"))
    assert(cut.agg(sum($"x")).collect()(0).getLong(0) === 6L)
  }

  test("reliable path: CC result identical to local path, files land in the dir") {
    val local = Components.largeStarSmallStar(chainGraph)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reliable = withReliableDir { dir =>
      assert(Checkpoints.reliableDir(spark).contains(dir.getAbsolutePath))
      val got = Components.largeStarSmallStar(chainGraph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the durable evidence: RDD checkpoint part-files under the dir
      def files(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) files(c) else Seq(c))
      assert(files(dir).exists(_.getName.startsWith("part-")), "no checkpoint part-files written")
      got
    }
    assert(reliable === local)
    assert(local.map(_._2) === Set(0L)) // one 41-node chain component
  }

  test("reliable path: min-label CC and LabelProp agree with the local path") {
    val edges = PageRank.symmetrize(
      Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst"))
    val localLp = LabelProp.run(edges, 2).collect().toSet
    val localCc = Components
      .connectedComponents(chainGraph, srcCol = "id_a", dstCol = "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (relLp, relCc) = withReliableDir { _ =>
      (LabelProp.run(edges, 2).collect().toSet,
        Components.connectedComponents(chainGraph, srcCol = "id_a", dstCol = "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    assert(relLp === localLp)
    assert(relCc === localCc)
  }
}
