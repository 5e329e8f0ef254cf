package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.withClue

object SparkSessionFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A session on the shared context whose
    * `spark.sql.autoBroadcastJoinThreshold` is `bytes`; the shared
    * session's conf is left alone. */
  def sessionAtBroadcastThreshold(bytes: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes)
    s
  }

  /** The thresholds that force each of duplicateClusters' regimes: −1
    * the distributed rounds, Long.MaxValue the driver union-find. */
  val ComponentThresholds: Seq[Long] = Seq(-1L, Long.MaxValue)

  /** Runs `body` once per regime, in a session at that threshold. */
  def forBothComponentBranches(body: SparkSession => Unit): Unit =
    ComponentThresholds.foreach { t =>
      withClue(s"autoBroadcastJoinThreshold=$t: ")(body(sessionAtBroadcastThreshold(t)))
    }
}
