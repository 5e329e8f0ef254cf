package graft.job

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew policy for the extraction map stage (SURVEY.md §4.2). Web crawls
 * have a heavy tail of giant HTML pages; per-row extraction cost is
 * roughly linear in `length(html)`, so a partition that accumulates many
 * giant rows straggles the whole stage.
 *
 * We repartition on a *cost-weighted* salt instead of row count: each row
 * gets a deterministic pseudo-random salt from xxhash64(url), and rows
 * whose html exceeds `bigBytes` additionally spread across the full salt
 * space by a second hash term, so giant rows from one host/day cannot
 * co-locate. The subsequent map stage is then balanced by *bytes*, not
 * rows. This is the job's only shuffle of the input; ExtractJob adds one
 * more, of the extracted OUTPUT rows, when AQE is on: a rebalance on
 * warc_day above the extraction map, so the write opens one file per day
 * rather than one per (task, day). The salt keeps balancing extraction.
 *
 * AQE (on by default in Spark 4) further rebalances the shuffle blocks at
 * runtime; this salt just guarantees AQE has splittable keys to work with.
 */
object Salting {

  val DefaultBigBytes: Long = 1L << 20 // 1 MiB

  def saltedRepartition(df: DataFrame, numPartitions: Int,
                        bigBytes: Long = DefaultBigBytes): DataFrame = {
    val saltSpace = numPartitions * 8
    // hashes reduced mod saltSpace BEFORE adding — raw xxhash64 sums
    // overflow Long, which is an error under ANSI mode (Spark 4 default)
    val salted = df.withColumn(
      "_salt",
      pmod(
        pmod(xxhash64(col("url")), lit(saltSpace.toLong)) +
          when(length(col("html")) > bigBytes,
            pmod(xxhash64(col("url"), length(col("html"))), lit(saltSpace.toLong)))
            .otherwise(lit(0L)),
        lit(saltSpace.toLong)).cast("int"))
    salted.repartition(numPartitions, col("_salt")).drop("_salt")
  }
}
