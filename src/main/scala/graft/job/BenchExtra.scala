package graft.job

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/**
 * Round-8 optimization harness (guide §1): per-query timing with more
 * attempts than the frozen graft.Bench (which stays the driver contract),
 * plus `.explain("formatted")` capture for the plans/r08 before/after
 * artifacts. Never replaces Bench — cite its numbers in
 * OPTIMIZATION_r08.md only.
 *
 * Usage:
 *   runMain graft.job.BenchExtra time  [attempts] [q1,q2,...|all]
 *   runMain graft.job.BenchExtra noop  [attempts] [q1,q2,...|all]
 *   runMain graft.job.BenchExtra plans <outDir> <suffix> [q1,q2,...|all]
 *
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
 *      SPARK_GRAFT_CPUS (default 32) — same knobs as Bench.
 *
 * `time` mirrors the driver's methodology exactly (count() action,
 * round-robin attempts, best-of over successes); `noop` swaps the action
 * for a noop-sink write (guide §1.4 — computes every column, isolates
 * the computation from count's column pruning).
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "time"
    require(mode != "plans" || args.length >= 3,
      "usage: BenchExtra plans <outDir> <suffix> [q1,q2,...|all]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("graft-bench-extra")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def queryNames(sel: String): Seq[String] =
      if (sel == "all" || sel.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted
      else sel.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

    mode match {
      case "time" | "noop" =>
        val attempts = if (args.length > 1) args(1).toInt else 3
        val names = queryNames(if (args.length > 2) args(2) else "all")
        val best = scala.collection.mutable.Map[String, Double]()
        val all = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        (1 to attempts).foreach { a =>
          names.foreach { name =>
            spark.sparkContext.setJobDescription(s"$name attempt $a")
            val t0 = System.nanoTime()
            val ok = try {
              val df = graft.SparkEntry.queries(name)(spark, sfDir)
              if (mode == "noop")
                df.write.format("noop").mode("overwrite").save()
              else df.count()
              true
            } catch { case NonFatal(e) =>
              System.err.println(s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
              false
            }
            val dt = (System.nanoTime() - t0) / 1e9
            if (ok) {
              best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
              all(name) = all(name) :+ dt
            }
          }
        }
        val total = names.flatMap(best.get).sum
        names.foreach { n =>
          val samples = all(n).map(d => f"$d%.3f").mkString(",")
          println(f"$n%-28s best=${best.getOrElse(n, -1.0)}%7.3f  samples=[$samples]")
        }
        println(f"TOTAL(best) ${total}%.2f s over ${names.size} queries [$mode]")

      case "plans" =>
        val outDir = args(1)
        val suffix = args(2)
        val names = queryNames(if (args.length > 3) args(3) else "all")
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
          println(s"wrote $outDir/${name}_$suffix.txt")
        }

      case other =>
        System.err.println(s"unknown mode '$other' (time|noop|plans)")
        sys.exit(2)
    }
    spark.stop()
  }
}
