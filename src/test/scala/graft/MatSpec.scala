package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Mat}

/** Pins the pluggable materialization strategy (VERDICT r6 #3): with a
  * RELIABLE checkpoint dir configured, every corpus-scale intermediate
  * (postings tables, candidate inputs, cluster-label rounds) goes
  * through `Dataset.checkpoint` — re-readable after executor loss on a
  * real cluster — and every pipeline produces IDENTICAL output to the
  * local-checkpoint (sandbox) mode. Also pins that an `observe`d metric
  * still fires through a reliable checkpoint: duplicateClusters' edge
  * size and convergence probe ride checkpoint jobs, and a silent
  * non-firing would hang the call. */
class MatSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def withCheckpointDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt")
      .toString
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally {
      // null unsets (SparkContext stores Option(directory)): other suites
      // must keep seeing the sandbox default (local checkpoints)
      spark.sparkContext.setCheckpointDir(null)
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("reliable mode: ngramJaccard, prefixJaccardJoin and spanDupStats " +
    "produce output identical to local-checkpoint mode, and checkpoint " +
    "data actually lands in the configured dir") {
    // spanContainmentJoin and minhashLsh ride along: their shingle
    // tables checkpoint through Dedup.shingleTable
    val rows = (0L until 12L).map { i =>
      (i, (0 until 8).map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" "))
    }
    val df = docsDf(rows)
    assert(!Mat.reliable(df))
    val baseNg = canon(Dedup.ngramJaccard(df, "doc_id", "text", 0.3))
    val basePj = canon(Dedup.prefixJaccardJoin(df, "doc_id", "text", 0.3))
    val baseSp = canon(Dedup.spanDupStats(df, "doc_id", "text", n = 3))
    val baseSc = canon(Dedup.spanContainmentJoin(df, "doc_id", "text",
      n = 3, minContainment = 0.3))
    val baseMh = canon(Dedup.minhashLsh(df, "doc_id", "text",
      bands = 16, threshold = 0.2))
    assert(baseSc.nonEmpty && baseMh.nonEmpty)
    withCheckpointDir { dir =>
      assert(Mat.reliable(df))
      assert(canon(Dedup.ngramJaccard(df, "doc_id", "text", 0.3)) == baseNg)
      assert(canon(Dedup.prefixJaccardJoin(df, "doc_id", "text", 0.3)) == basePj)
      assert(canon(Dedup.spanDupStats(df, "doc_id", "text", n = 3)) == baseSp)
      assert(canon(Dedup.spanContainmentJoin(df, "doc_id", "text",
        n = 3, minContainment = 0.3)) == baseSc)
      assert(canon(Dedup.minhashLsh(df, "doc_id", "text",
        bands = 16, threshold = 0.2)) == baseMh)
      // the reliable path really wrote checkpoint state (rdd-* dirs)
      def rddDirs(f: java.io.File): Int =
        if (f.isDirectory)
          (if (f.getName.startsWith("rdd-")) 1 else 0) +
            f.listFiles.map(rddDirs).sum
        else 0
      assert(rddDirs(new java.io.File(dir)) > 0,
        "no checkpointed RDD state under the configured dir")
    }
  }

  test("reliable mode: duplicateClusters' observed convergence metric " +
    "fires through Dataset.checkpoint — a 60-node chain still collapses " +
    "to its min id within the pointer-doubling round budget") {
    // both regimes: the edge-size observation rides the edge checkpoint
    // in each, the convergence probe every distributed round
    SparkSessionFixture.forBothComponentBranches { s =>
      import s.implicits._
      val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val base = canon(Dedup.duplicateClusters(pairs))
      assert(base.forall(_(1) == 0L), "chain must collapse to component 0")
      withCheckpointDir { _ =>
        assert(canon(Dedup.duplicateClusters(pairs)) == base)
      }
    }
  }
}
