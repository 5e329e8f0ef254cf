package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the properties that keep the 100 TB
  * plan efficient must not regress: column pruning reaches the scan,
  * filters push down, the small join side broadcasts. */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 broadcast join uses BroadcastHashJoin") {
    val p = plan(SparkEntry.queries("q02_broadcast_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("projection before typed map prunes the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 40)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"), p)
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_orderkey") && rs.contains("l_quantity") && !rs.contains("l_extendedprice"), rs)
  }

  test("pages scan reads only extract columns before the map") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pages").toString
    val rows = graft.job.FixtureGen.fixtureRows("src/test/resources/fixtures")
    graft.job.PageTableIO.write(spark.createDataset(rows).toDF(), dir, numBuckets = 4)
    val ds = graft.job.PageTableIO.readPages(spark, dir)
    val p = plan(ds.select("url").toDF())
    // partition columns present in layout
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.startsWith("warc_day=")), files.mkString(","))
  }

  test("salting survives giant rows under ANSI mode (no long overflow)") {
    import spark.implicits._
    val big = new Array[Byte](2 * 1024 * 1024)
    val rows = Seq(
      graft.extract.Page("g://1", new java.sql.Timestamp(0), big, "", ""),
      graft.extract.Page("g://2", new java.sql.Timestamp(0), Array[Byte](60, 112, 62), "", ""))
    val out = graft.job.Salting.saltedRepartition(spark.createDataset(rows).toDF(), 4)
    assert(out.count() == 2)
  }

  test("dedup/ANN family plans contain no cartesian product and keep the " +
    "kernels inside WholeStageCodegen") {
    val sfDir = "/root/testdata/sf0.001"
    for (q <- Seq("q16_ngram_jaccard", "q17_minhash_lsh", "q18_simhash",
      "q19_embedding_neardup", "q21_knn_ivf")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    // the native kernels evaluate inside generated code, not as fallback
    // (run the query so AQE finalizes the plan and codegen spans appear)
    val df19 = SparkEntry.queries("q19_embedding_neardup")(spark, sfDir)
    df19.collect()
    val p19 = df19.queryExecution.executedPlan.toString
    assert(p19.contains("graft_cosine") || p19.contains("graft_dot_const"), p19.take(1500))
    // "*(n) " stage prefixes are the WholeStageCodegen markers; the kernel
    // must appear inside one (not in an un-starred interpreted operator)
    assert(p19.linesIterator.exists(l => l.contains("*(") &&
      (l.contains("graft_cosine") || l.contains("graft_dot_const"))),
      "kernels not inside a WholeStageCodegen span:\n" + p19.take(1500))
  }

  test("q30 stratified quota runs as WindowGroupLimit (partial top-n " +
    "before the stratum shuffle) and bernoulli stays a pure pushed filter") {
    val p = plan(SparkEntry.queries("q30_stratified_sample")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // the bernoulli pre-filter must be a Filter, not an exchange/agg
    val q = plan(graft.pipeline.Sampling.bernoulli(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", 0.5))
    assert(!q.contains("Exchange"), q.take(2000))
    assert(q.contains("Filter"), q.take(2000))
  }

  test("round-4 operators keep their scale shapes: span dedup has no " +
    "pairwise join, BM25 broadcasts df/stats, winnowing windows by doc, " +
    "shingle kernel runs inside codegen") {
    // q36: postings df-count + join-back — NEVER a self-join pair blowup
    val p36 = plan(SparkEntry.queries("q36_span_dedup")(spark, sf))
    assert(!p36.contains("CartesianProduct") && !p36.contains("BroadcastNestedLoopJoin"))
    // q37: the term-level frames broadcast into the scoring pass
    val p37 = plan(SparkEntry.queries("q37_bm25")(spark, sf))
    assert(p37.contains("BroadcastExchange") || p37.contains("BroadcastHashJoin"), p37.take(2000))
    assert(!p37.contains("CartesianProduct"))
    // q39: exactly one Window, partitioned by the document id — per-doc
    // parallelism, no global ordering
    val p39 = plan(SparkEntry.queries("q39_winnow_fp")(spark, sf))
    // (the operator's internal doc column is named `id`)
    val winLines = p39.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty &&
      winLines.forall(_.contains("windowspecdefinition(id#")), winLines.mkString("\n"))
    // the shingle kernel evaluates inside a WholeStageCodegen span
    val df16 = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.pipeline.Dedup.shingleHashes(col("text")).as("sh"))
    val p16 = plan(df16)
    assert(p16.linesIterator.exists(l => l.contains("*(") && l.contains("graft_shingle_hash")),
      p16.take(1500))
  }

  test("brute knn broadcasts the query side (corpus never shuffles)") {
    val p = plan(SparkEntry.queries("q20_knn_brute")(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("extraction stage plan is map-only after one salted shuffle") {
    import spark.implicits._
    val rows = graft.job.FixtureGen.fixtureRows("src/test/resources/fixtures")
    val df = spark.createDataset(rows).toDF()
    val salted = graft.job.Salting.saltedRepartition(df, 4)
    val mapped = salted.as[graft.extract.Page].map(graft.extract.Extractor.extract)
    val p = plan(mapped.toDF())
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 shuffle, plan:\n${p.take(3000)}")
  }

  /** The executed plan of ExtractJob.run's `extracted/` write in session
    * `s`, and the rows it wrote, over a 3-day input at 4 partitions. */
  private def extractWrite(s: org.apache.spark.sql.SparkSession): (String, Set[Seq[Any]]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val tmp = java.nio.file.Files.createTempDirectory("extractplan").toString
    ExtractJobSpec.writePages(s, s"$tmp/pages", 0L until 72L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        // AQE prints the final plan, then the initial one
        val p = qe.executedPlan.toString.split("== Initial Plan ==")(0)
        if (p.contains("InsertIntoHadoopFsRelationCommand") && p.contains("/out/extracted"))
          plans.add(p)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try graft.job.ExtractJob.run(s, s"$tmp/pages", s"$tmp/out", partitions = 4, resume = false)
    finally {
      org.apache.spark.GraftListenerBusDrain.drain(s.sparkContext)
      s.listenerManager.unregister(listener)
    }
    assert(plans.size == 1, plans)
    val rows = s.read.parquet(s"$tmp/out/extracted")
      .select("url", "warc_day", "status", "extracted_text").collect().map(_.toSeq).toSet
    (plans.peek(), rows)
  }

  test("ExtractJob: the extraction map runs once, between the salted " +
    "exchange and one rebalance exchange on warc_day; without AQE the " +
    "plan keeps only the salted exchange and writes the same rows") {
    val (p, rows) = extractWrite(spark.newSession())
    val lines = p.linesIterator.toIndexedSeq
    def at(what: String, pred: String => Boolean): Int = {
      val hits = lines.indices.filter(i => pred(lines(i)))
      assert(hits.size == 1, s"$what: ${hits.size} lines in\n$p")
      hits.head
    }
    val exchanges = lines.filter(_.contains("Exchange "))
    assert(exchanges.size == 2, p)
    // the plan prints root first: write → rebalance → map → salted → scan
    val rebalance = at("rebalance", l => l.contains("Exchange ") &&
      l.contains("REBALANCE_PARTITIONS_BY_COL") && l.contains("warc_day"))
    val map = at("extraction map", _.contains("MapPartitions"))
    val salted = at("salted", l => l.contains("Exchange ") && l.contains("_salt"))
    assert(rebalance < map && map < salted, p)
    assert(rows.size == 72)

    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val (q, rowsNoAqe) = extractWrite(noAqe)
    val qx = q.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(qx.size == 1 && qx.head.contains("_salt"), q)
    assert(!q.contains("REBALANCE"), q)
    assert(rowsNoAqe == rows)
  }

  test("stage 4's quality gate is one map-only pass: the text-statistics " +
    "kernel once, no Exchange, no Window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stage4").toString
    Seq(("u://1", new java.sql.Timestamp(0), (1 to 40).map(i => s"The cat$i sat$i on the mat$i.").mkString(" ")),
      ("u://2", new java.sql.Timestamp(0), "loop loop loop loop loop loop"),
      ("u://3", new java.sql.Timestamp(0), "single"))
      .toDF("url", "warc_ts", "text").write.mode("overwrite").parquet(dir)
    val gated = graft.job.CurateJob.qualityGate(spark.read.parquet(dir),
      graft.job.CurateJob.Thresholds())
    val p = plan(gated)
    assert("graft_text_stats\\(".r.findAllMatchIn(p).size == 1, p)
    assert(!p.contains("Exchange") && !p.contains("Window"), p)
    assert(gated.columns.toSeq == Seq("url", "warc_ts", "text", "quality", "lang"))
    assert(gated.select("url").as[String].collect().toSeq == Seq("u://1"))
  }

  test("repetitionStats (q51) is map-only; the text-based TextOps operators " +
    "call the kernel once per row") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = plan(graft.pipeline.TextOps.repetitionStats(docs, "doc_id", "text"))
    assert("graft_text_stats\\(".r.findAllMatchIn(rep).size == 1, rep)
    assert(!rep.contains("Exchange") && !rep.contains("Window"), rep)
    // q51's only exchange is its ORDER BY's range partitioning
    val q51 = plan(SparkEntry.queries("q51_repetition_stats")(spark, sf))
    val exchanges = q51.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"), q51)
    // langId / qualityScore (q12 / q13) reference the kernel from many
    // branches; subexpression elimination must leave ONE call in the
    // generated code
    import org.apache.spark.sql.execution.debug._
    for ((name, op) <- Seq[(String, Column => Column)](
      "langId" -> graft.pipeline.TextOps.langId,
      "qualityScore" -> graft.pipeline.TextOps.qualityScore)) {
      val code = docs.select(op(col("text"))).queryExecution.debug
        .codegenToSeq().map(_._2).mkString("\n")
      assert("TextStats\\.compute\\(".r.findAllMatchIn(code).size == 1, s"$name:\n$code")
    }
  }
}
