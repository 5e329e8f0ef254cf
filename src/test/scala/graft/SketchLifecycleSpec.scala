package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Sketch

/** Sketch lifecycle: persist + associative merge. The reason sketches
  * exist at 100 TB is merging per-ingest artifacts into a running sketch
  * without re-scanning history — so the merge law
  * merge(build(A), build(B)) ≡ build(A ∪ B) is pinned EXACTLY (row-level
  * state equality, not just estimate equality) for every family,
  * save/load round-trips are bit-exact, parameter-mixed tables fail
  * loudly instead of silently corrupting estimates, tables in the
  * layouts written before the shared save/load/upsert/fold keep working,
  * and the one-level histogram is bit-for-bit hist2 at sBits = 0. */
class SketchLifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"value-$i word${i % 7} tok${i % 13}", s"g${i % 3}"))
      .toDF("id", "text", "grp")

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // a NOT-YET-EXISTING subpath: the save/upsert targets must start absent
  // (an existing empty dir deliberately reads as a crashed overwrite and
  // fails loudly — see Sketch.pathExists)
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  // a persisted sketch's rows (its parameters checked, then dropped)
  private def loaded(f: Sketch.Family, path: String,
                     groupCols: Seq[String] = Seq("grp")): DataFrame =
    Sketch.load(spark, f, groupCols, path)._1

  // the log2 length histogram in the `Hist` layout (hist2 at sBits = 0,
  // constant sub dropped) — what `len_hist` persists
  private def lenHist(df: DataFrame, groupCols: Seq[String] = Seq("grp"),
                      v: Column = length(col("text"))): DataFrame =
    Sketch.hist2Build(df, groupCols, v, sBits = 0).drop("sub")

  // ---- two-level quantile sketch ----------------------------------------

  test("hist2: add-merge ≡ rebuild over the union (exact (bucket, sub) " +
    "counts), and estimates refine the one-level histogram's error to " +
    "the sub-bucket span") {
    import org.apache.spark.sql.functions.{col, lit}
    // lengths spread inside ONE log2 bucket [1024, 2047]: the one-level
    // histogram interpolates the whole 1024-wide span, the two-level one
    // pins the estimate to a 128-wide sub-bucket
    val vals = (0 until 512).map(i => (1024L + 2 * i, s"g${i % 2}"))
    val df = vals.toDF("v", "grp")
    val a = df.where(col("v") % 4 === 0)
    val b = df.where(col("v") % 4 =!= 0)
    val full = Sketch.hist2Build(df, Seq("grp"), col("v"))
    assert(canon(Sketch.merge(Sketch.Hist2,
      Sketch.hist2Build(a, Seq("grp"), col("v")),
      Sketch.hist2Build(b, Seq("grp"), col("v")), Seq("grp"))) == canon(full))
    // every (bucket, sub) count stays within the 2^sBits split bound
    assert(full.select(col("sub")).collect().map(_.getLong(0)).forall(s =>
      s >= 0 && s < 8))
    val est = Sketch.hist2Quantiles(full, Seq("grp"),
      Seq(("s50", 0.5), ("s90", 0.9)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // exact percentiles per group ((n−1)·q over the sorted 256 values)
    def exact(g: String, q: Double): Double = {
      val xs = vals.filter(_._2 == g).map(_._1.toDouble).sorted
      val t = (xs.length - 1) * q
      val i = t.toInt
      if (i + 1 < xs.length) xs(i) + (xs(i + 1) - xs(i)) * (t - i) else xs(i)
    }
    for (g <- Seq("g0", "g1")) {
      val (s50, s90) = est(g)
      // sub-bucket span here is 1024/8 = 128: the estimate must land
      // within one span of the exact value (the one-level bucket span,
      // 1024, would not pin this)
      assert(math.abs(s50 - exact(g, 0.5)) <= 128.0,
        s"$g s50=$s50 exact=${exact(g, 0.5)}")
      assert(math.abs(s90 - exact(g, 0.9)) <= 128.0,
        s"$g s90=$s90 exact=${exact(g, 0.9)}")
    }
  }

  test("hist2 lifecycle: save/load round-trips counts and sBits, upsert " +
    "replaces groups, fold accumulates behind the high-water mark, and " +
    "parameter/ownership mixes fail loudly") {
    import org.apache.spark.sql.functions.{col, length}
    val all = corpus(0 until 300)
    val h = Sketch.hist2Build(all, Seq("grp"), length(col("text")))
    val upPath = tmp("h2up")
    def load(path: String) = Sketch.load(spark, Sketch.Hist2, Seq("grp"), path)
    Sketch.save(Sketch.Hist2, Seq("grp"), h, Seq(3), upPath)
    val (loaded, s) = load(upPath)
    assert(s == Seq(3))
    assert(canon(loaded) == canon(h))
    // upsert: recomputing one group replaces only that group
    val g0 = all.where(col("grp") === "g0")
    Sketch.upsert(spark, Sketch.Hist2, Seq("grp"),
      Sketch.hist2Build(g0, Seq("grp"), length(col("text"))), Seq(3), upPath)
    assert(canon(load(upPath)._1) == canon(h))
    intercept[IllegalArgumentException] {
      Sketch.upsert(spark, Sketch.Hist2, Seq("grp"),
        Sketch.hist2Build(g0, Seq("grp"), length(col("text")), sBits = 4),
        Seq(4), upPath)
    }
    // fold: batch halves accumulate to the full build; replay no-ops
    val foldPath = tmp("h2fold")
    val b0 = all.where(col("id") < 150)
    val b1 = all.where(col("id") >= 150)
    def fold(b: DataFrame, id: Long): Unit =
      Sketch.fold(spark, Sketch.Hist2, Seq("grp"),
        Sketch.hist2Build(b, Seq("grp"), length(col("text"))), Seq(3),
        foldPath, id)
    fold(b0, 0L)
    fold(b1, 1L)
    assert(canon(load(foldPath)._1) == canon(h))
    fold(b1, 1L)
    assert(canon(load(foldPath)._1) == canon(h))
    // an upsert against the fold-owned table is a loud error, not an
    // invisible flat write
    intercept[IllegalArgumentException] {
      Sketch.upsert(spark, Sketch.Hist2, Seq("grp"), h, Seq(3), foldPath)
    }
  }

  // ---- streaming folds --------------------------------------------------

  test("foldHll/foldHist: batch-local folds accumulate to the full-corpus " +
    "sketch; a replayed batch id no-ops per table (the counter-add " +
    "double-count guard)") {
    val all = corpus(0 until 300)
    val b0 = all.where(col("id") < 100)        // groups g0..g2, partial
    val b1 = all.where(col("id") >= 100)       // rest of every group
    val hllPath = tmp("foldhll")
    val histPath = tmp("foldhist")
    def foldBoth(batch: DataFrame, id: Long): Unit = {
      Sketch.fold(spark, Sketch.Hll, Seq("grp"),
        Sketch.hllRegisters(batch, Seq("grp"), col("text")), Seq(9), hllPath, id)
      Sketch.fold(spark, Sketch.Hist, Seq("grp"), lenHist(batch), Nil,
        histPath, id)
    }
    foldBoth(b0, 0L)
    foldBoth(b1, 1L)
    val wantHll = canon(Sketch.hllRegisters(all, Seq("grp"), col("text")))
    val wantHist = canon(lenHist(all))
    assert(canon(loaded(Sketch.Hll, hllPath)) == wantHll)
    assert(canon(loaded(Sketch.Hist, histPath)) == wantHist)
    // replay batch 1 (a crashed trigger re-runs under the SAME id): the
    // high-water mark makes it a no-op — without it the histogram's
    // counter-add would double-count every batch-1 row
    foldBoth(b1, 1L)
    assert(canon(loaded(Sketch.Hll, hllPath)) == wantHll)
    assert(canon(loaded(Sketch.Hist, histPath)) == wantHist)
    // a NEW group arriving in a later batch folds in without touching
    // committed groups' marks
    val extra = Seq((900L, "fresh text tok", "g9")).toDF("id", "text", "grp")
    foldBoth(extra, 2L)
    val all2 = all.unionByName(extra)
    assert(canon(loaded(Sketch.Hll, hllPath)) ==
      canon(Sketch.hllRegisters(all2, Seq("grp"), col("text"))))
    assert(canon(loaded(Sketch.Hist, histPath)) == canon(lenHist(all2)))
    // p mismatch still fails loudly through the fold path
    intercept[IllegalArgumentException] {
      Sketch.fold(spark, Sketch.Hll, Seq("grp"),
        Sketch.hllRegisters(all, Seq("grp"), col("text"), p = 10), Seq(10),
        hllPath, 3L)
    }
  }

  test("fold commits are generations: a crash mid-fold (partial gen, no " +
    "_SUCCESS) leaves the previous state readable, and the replayed " +
    "batch commits over it") {
    val all = corpus(0 until 200)
    val b0 = all.where(col("id") < 100)
    val b1 = all.where(col("id") >= 100)
    val path = tmp("foldgen")
    Sketch.fold(spark, Sketch.Hist, Seq("grp"), lenHist(b0), Nil, path, 0L)
    val want01 = canon(loaded(Sketch.Hist, path))
    // simulate batch 1 crashing mid-write: a partial generation dir with
    // data but NO _SUCCESS — a flat-overwrite fold would have deleted
    // the only copy of batch 0's counters at this point
    val partial = new java.io.File(s"$path/_gen-1")
    assert(partial.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_gen-1/part-00000.parquet"),
      Array[Byte](1, 2, 3)) // torn file: unreadable as parquet
    assert(canon(loaded(Sketch.Hist, path)) == want01,
      "a partial generation must be invisible to readers")
    // the replayed batch 1 folds against the intact state and commits
    Sketch.fold(spark, Sketch.Hist, Seq("grp"), lenHist(b1), Nil, path, 1L)
    assert(canon(loaded(Sketch.Hist, path)) == canon(lenHist(all)))
    // older generations pruned after the commit
    val gens = new java.io.File(path).listFiles
      .filter(_.getName.startsWith("_gen-")).map(_.getName).toSet
    assert(gens == Set("_gen-1"), s"gens=$gens")
  }

  test("a REPLAYED fold over an already-committed generation never " +
    "rewrites the gen dir: at that point it is the ONLY complete " +
    "generation, and an in-place overwrite would first delete it — a " +
    "crash mid-rewrite would lose unrebuildable sketch state (ADVICE r6)") {
    val all = corpus(0 until 200)
    val b0 = all.where(col("id") < 100)
    val b1 = all.where(col("id") >= 100)
    val path = tmp("foldreplay")
    def fold(b: DataFrame, id: Long): Unit =
      Sketch.fold(spark, Sketch.Hist, Seq("grp"), lenHist(b), Nil, path, id)
    fold(b0, 0L)
    fold(b1, 1L) // prunes _gen-0: _gen-1 is now the only complete state
    // sentinel INSIDE the committed gen dir: any rewrite (overwrite mode
    // deletes the dir first) would remove it
    val sentinel = java.nio.file.Paths.get(s"$path/_gen-1/_sentinel")
    java.nio.file.Files.write(sentinel, Array[Byte](7))
    fold(b1, 1L) // replay: HWM makes the merge a content no-op
    assert(java.nio.file.Files.exists(sentinel),
      "replayed fold rewrote the committed generation in place")
    assert(canon(loaded(Sketch.Hist, path)) == canon(lenHist(all)))
  }

  // ---- HLL --------------------------------------------------------------

  test("HLL: merge(build(A), build(B)) has register-identical state to " +
    "build(A ∪ B), and the estimates agree") {
    val all = corpus(0 until 300)
    val a = all.where(col("id") % 2 === 0)
    val b = all.where(col("id") % 2 =!= 0)
    val full = Sketch.hllRegisters(all, Seq("grp"), col("text"))
    val merged = Sketch.merge(Sketch.Hll,
      Sketch.hllRegisters(a, Seq("grp"), col("text")),
      Sketch.hllRegisters(b, Seq("grp"), col("text")), Seq("grp"))
    assert(canon(merged) == canon(full))
    assert(canon(Sketch.hllEstimate(merged, Seq("grp"))) ==
      canon(Sketch.hllEstimate(full, Seq("grp"))))
  }

  test("HLL: save → load round-trips registers and p; merging a loaded " +
    "day-2 sketch into a loaded day-1 sketch ≡ building over both days") {
    val d1 = corpus(0 until 120)
    val d2 = corpus(120 until 260)
    val p1 = tmp("hll1"); val p2 = tmp("hll2")
    Sketch.save(Sketch.Hll, Seq("grp"),
      Sketch.hllRegisters(d1, Seq("grp"), col("text")), Seq(9), p1)
    Sketch.save(Sketch.Hll, Seq("grp"),
      Sketch.hllRegisters(d2, Seq("grp"), col("text")), Seq(9), p2)
    val (r1, pp1) = Sketch.load(spark, Sketch.Hll, Seq("grp"), p1)
    val (r2, pp2) = Sketch.load(spark, Sketch.Hll, Seq("grp"), p2)
    assert(pp1 == Seq(9) && pp2 == Seq(9))
    val merged = Sketch.merge(Sketch.Hll, r1, r2, Seq("grp"))
    val full = Sketch.hllRegisters(d1.unionByName(d2), Seq("grp"), col("text"))
    assert(canon(merged) == canon(full))
  }

  test("a table whose rows mix parameters fails loudly: HLL, CMS, Bloom " +
    "and hist2 on load, upsert and fold; PQ codebooks on load") {
    import graft.pipeline.Similarity
    val text = corpus(0 until 60)
    val toks = text.select(explode(split(col("text"), " ")).as("v"))
    val cases = Seq(
      ("hll", Sketch.Hll, Seq("grp"),
        Sketch.hllRegisters(text, Seq("grp"), col("text")), Seq(9)),
      ("cms", Sketch.Cms, Nil, Sketch.cmsBuild(toks, col("v")), Seq(4, 1024)),
      ("bloom", Sketch.Bloom, Nil, Sketch.bloomBuild(toks, col("v")),
        Seq(16384, 4)),
      ("hist2", Sketch.Hist2, Seq("grp"),
        Sketch.hist2Build(text, Seq("grp"), length(col("text"))), Seq(3)))
    def mixes(e: IllegalArgumentException) =
      e.getMessage.contains("mixes parameters")
    for ((name, f, groupCols, sketch, params) <- cases) {
      // a saved sketch, then rows APPENDED with the last parameter changed
      val path = tmp(s"mix-$name")
      Sketch.save(f, groupCols, sketch, params, path)
      val other = params.init :+ (params.last + 1)
      f.params.zip(other).foldLeft(
          sketch.select(f.columns(groupCols).map(col): _*)) {
        case (d, (n, v)) => d.withColumn(n, lit(v))
      }.write.mode("append").parquet(path)
      assert(mixes(intercept[IllegalArgumentException] {
        Sketch.load(spark, f, groupCols, path)
      }), name)
      assert(mixes(intercept[IllegalArgumentException] {
        Sketch.upsert(spark, f, groupCols, sketch, params, path)
      }), name)
      assert(mixes(intercept[IllegalArgumentException] {
        Sketch.fold(spark, f, groupCols, sketch, params, path, 0L)
      }), name)
    }
    // PQ codebooks declare (m, ksub) on every row the same way
    val pq = tmp("mix-pq")
    Similarity.savePqCodebooks(
      Array.tabulate(2, 4)((j, k) => Array(j.toDouble, k.toDouble)), spark, pq)
    Seq((2, 8, 0, 5, Seq(0.0, 1.0))).toDF("m", "ksub", "j", "k", "c")
      .write.mode("append").parquet(pq)
    assert(mixes(intercept[IllegalArgumentException] {
      Similarity.loadPqCodebooks(spark, pq)
    }))
  }

  // ---- CMS --------------------------------------------------------------

  test("CMS: counter-add merge ≡ rebuild over the union (exact counter " +
    "table equality), and lookups agree") {
    val all = corpus(0 until 400).select(explode(split(col("text"), " ")).as("v"))
    val a = corpus(0 until 200).select(explode(split(col("text"), " ")).as("v"))
    val b = corpus(200 until 400).select(explode(split(col("text"), " ")).as("v"))
    val merged = Sketch.merge(Sketch.Cms, Sketch.cmsBuild(a, col("v")),
      Sketch.cmsBuild(b, col("v")))
    val full = Sketch.cmsBuild(all, col("v"))
    assert(canon(merged) == canon(full))
    val probes = Seq("word0", "tok5", "absent").toDF("v")
    assert(canon(Sketch.cmsLookup(merged, probes, col("v"))) ==
      canon(Sketch.cmsLookup(full, probes, col("v"))))
  }

  test("CMS: save → load round-trips counters and (d, w)") {
    val vals = corpus(0 until 100).select(explode(split(col("text"), " ")).as("v"))
    val cms = Sketch.cmsBuild(vals, col("v"))
    val path = tmp("cms")
    Sketch.save(Sketch.Cms, Nil, cms, Seq(4, 1024), path)
    val (loaded, dw) = Sketch.load(spark, Sketch.Cms, Nil, path)
    assert(dw == Seq(4, 1024))
    assert(canon(loaded) == canon(cms))
  }

  // ---- Bloom ------------------------------------------------------------

  test("Bloom: position-union merge ≡ rebuild; no false negatives across " +
    "a merge; save/load round-trips (m, k)") {
    val a = (0 until 150).map(i => s"url-$i").toDF("v")
    val b = (150 until 300).map(i => s"url-$i").toDF("v")
    val all = (0 until 300).map(i => s"url-$i").toDF("v")
    val merged = Sketch.merge(Sketch.Bloom, Sketch.bloomBuild(a, col("v")),
      Sketch.bloomBuild(b, col("v")))
    val full = Sketch.bloomBuild(all, col("v"))
    assert(canon(merged) == canon(full))
    // every inserted key (either side) must hit the merged filter
    val hits = Sketch.bloomProbe(merged, all, col("v"))
    assert(hits.where(!col("bloom_hit")).count() == 0)

    val path = tmp("bloom")
    Sketch.save(Sketch.Bloom, Nil, merged, Seq(16384, 4), path)
    val (loaded, mk) = Sketch.load(spark, Sketch.Bloom, Nil, path)
    assert(mk == Seq(16384, 4))
    assert(canon(loaded) == canon(merged))
  }

  // ---- group upsert (continuous profiling) ------------------------------

  test("upsertHll: incoming groups replace their rows, others survive; " +
    "re-upserting the same group is idempotent; p mismatch fails loudly") {
    val path = tmp("hllup")
    val d1 = corpus(0 until 80).withColumn("day", lit("d1"))
    val d2 = corpus(80 until 150).withColumn("day", lit("d2"))
    def upsert(df: DataFrame, p: Int): Unit =
      Sketch.upsert(spark, Sketch.Hll, Seq("day"),
        Sketch.hllRegisters(df, Seq("day"), col("text"), p), Seq(p), path)
    upsert(d1, 9)
    upsert(d2, 9)
    val (regs, p) = Sketch.load(spark, Sketch.Hll, Seq("day"), path)
    assert(p == Seq(9))
    val both = canon(regs)
    // d1's rows are exactly a fresh build's (untouched by d2's upsert)
    assert(both.filter(_.head == "d1") ==
      canon(Sketch.hllRegisters(d1, Seq("day"), col("text"))))
    // re-upserting d2 changes nothing (group replace, not counter add)
    upsert(d2, 9)
    assert(canon(loaded(Sketch.Hll, path, Seq("day"))) == both)
    // a different p must not merge in silently
    val e = intercept[IllegalArgumentException] { upsert(d2, 10) }
    assert(e.getMessage.contains("p="))
  }

  test("upsertHist: replace-groups law — upserting a recomputed day twice " +
    "equals once; untouched days keep exact counts") {
    val path = tmp("histup")
    val d1 = (0 until 40).map(i => ("d1", i.toLong + 1)).toDF("day", "v")
    val d2 = (0 until 60).map(i => ("d2", i.toLong * 5 + 1)).toDF("day", "v")
    def upsert(df: DataFrame): Unit =
      Sketch.upsert(spark, Sketch.Hist, Seq("day"),
        Sketch.hist2Build(df, Seq("day"), col("v"), sBits = 0), Nil, path)
    upsert(d1)
    upsert(d2)
    upsert(d2) // re-run: idempotent
    val want = lenHist(d1.unionByName(d2), Seq("day"), col("v"))
    assert(canon(loaded(Sketch.Hist, path, Seq("day"))) == canon(want))
  }

  // ---- log2-histogram quantile sketch (hist2 at sBits = 0) --------------

  test("histogram: add-merge ≡ rebuild over the union (exact bucket " +
    "counts), including through a save/load round-trip") {
    val all = (0 until 500).map(i => ("g", i.toLong * 3 + 1)).toDF("grp", "v")
    val a = all.where(col("v") % 2 === 0)
    val b = all.where(col("v") % 2 =!= 0)
    val merged = Sketch.merge(Sketch.Hist,
      Sketch.hist2Build(a, Seq("grp"), col("v"), sBits = 0),
      Sketch.hist2Build(b, Seq("grp"), col("v"), sBits = 0), Seq("grp"))
    val full = lenHist(all, v = col("v"))
    assert(canon(merged) == canon(full))

    val path = tmp("hist")
    Sketch.save(Sketch.Hist, Seq("grp"), merged, Nil, path)
    assert(canon(loaded(Sketch.Hist, path)) == canon(full))
  }

  test("histogram quantiles: planted single-bucket distribution reads off " +
    "the exact in-bucket interpolation; estimates bounded by bucket span") {
    def quantiles(df: DataFrame, qs: Seq[(String, Double)]) =
      Sketch.hist2Quantiles(lenHist(df, v = col("v")), Seq("grp"), qs,
        sBits = 0).collect()(0)
    // 11 values all in bucket 4 (bit-length 4: values 8..15): n=11,
    // lo=8, hi=15, t(q) = 10·q, estimate = 8 + 7·(10q/11)
    val vals = (0 until 11).map(_ => ("g", 10L)).toDF("grp", "v")
    val out = quantiles(vals, Seq(("q0", 0.0), ("q50", 0.5), ("q100", 1.0)))
    assert(out.getAs[Long]("docs") == 11L)
    assert(out.getAs[Double]("q0") == 8.0)                       // t=0
    assert(out.getAs[Double]("q50") == math.rint((8.0 + 7.0 * (5.0 / 11.0)) * 1e4) / 1e4)
    // t = n−1 = 10 → 8 + 7·(10/11)
    assert(out.getAs[Double]("q100") == math.rint((8.0 + 7.0 * (10.0 / 11.0)) * 1e4) / 1e4)

    // two buckets: 5 values of 3 (bucket 2: lo 2 hi 3) + 5 of 20
    // (bucket 5: lo 16 hi 31): p50 → t=4.5 lands in bucket 2 at
    // (4.5−0)/5 of the span; p90 → t=8.1 in bucket 5 at (8.1−5)/5
    val two = ((0 until 5).map(_ => ("g", 3L)) ++ (0 until 5).map(_ => ("g", 20L)))
      .toDF("grp", "v")
    val o2 = quantiles(two, Seq(("p50", 0.5), ("p90", 0.9)))
    assert(o2.getAs[Double]("p50") == math.rint((2.0 + 1.0 * (4.5 / 5.0)) * 1e4) / 1e4)
    assert(o2.getAs[Double]("p90") == math.rint((16.0 + 15.0 * (3.1 / 5.0)) * 1e4) / 1e4)
  }

  // The one-level histogram as it was built and read off before it became
  // hist2 at sBits = 0: the reference the sBits = 0 case must match bit for
  // bit (q47's oracle hash rests on it).
  private def refHistBuild(df: DataFrame, groupCols: Seq[String],
                           valueCol: Column): DataFrame = {
    val v = valueCol.cast("long")
    val bucket = when(v <= 0, lit(0)).otherwise(length(bin(v)))
    df.select((groupCols.map(col) :+ bucket.as("bucket")): _*)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  private def refHistQuantiles(hist: DataFrame, groupCols: Seq[String],
                               qs: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bucket"))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cnt = col("cnt").cast("double")
    val cum0 = (sum(col("cnt")).over(w) - col("cnt")).cast("double")
    val n = sum(col("cnt")).over(wAll).cast("double")
    val lo = when(col("bucket") <= 0, lit(0.0))
      .otherwise(pow(lit(2.0), col("bucket") - 1))
    val hi = when(col("bucket") <= 0, lit(0.0))
      .otherwise(pow(lit(2.0), col("bucket")) - 1)
    val staged = hist.select(
      (groupCols.map(col) :+ cnt.as("__cnt") :+ cum0.as("__cum0") :+
        n.as("__n") :+ lo.as("__lo") :+ hi.as("__hi")): _*)
    val qAggs = qs.map { case (name, q) =>
      val t = (col("__n") - 1) * q
      max(when(col("__cum0") <= t && t < col("__cum0") + col("__cnt"),
        round(col("__lo") + (col("__hi") - col("__lo")) *
          ((t - col("__cum0")) / col("__cnt")), 4))).as(name)
    }
    staged.groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).cast("long").as("docs"), qAggs: _*)
  }

  test("hist ≡ hist2 at sBits = 0: the same bucket counts as the one-level " +
    "build, and bit-identical quantiles to the one-level read-off on " +
    "planted and seeded random lengths") {
    // planted: v ≤ 0, every bucket edge 2^k − 1 / 2^k, and lengths near
    // the 2^53 edge of hist2's documented domain
    val planted = (Seq(-5L, 0L, 1L, 2L, 3L) ++
      (2 to 52).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 3)))
      .map(v => ("planted", v))
    val rnd = new scala.util.Random(20261017)
    // random bit widths 1..53, so every bucket below 2^53 is populated
    val random = (0 until 3000).map(i =>
      (s"r${i % 3}", rnd.nextLong() >>> (11 + rnd.nextInt(53))))
    val ties = (0 until 7).map(_ => ("ties", 100L)) :+ (("one", 42L))
    val df = (planted ++ random ++ ties).toDF("grp", "v")
    val qs = Seq(0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
      .map(q => (s"q$q", q))
    def bits(out: DataFrame): Map[String, Seq[Long]] =
      out.collect().map { r =>
        r.getString(0) -> (r.getLong(1) +: (2 until r.length).map(i =>
          java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
      }.toMap

    val ref = refHistBuild(df, Seq("grp"), col("v"))
    assert(canon(lenHist(df, v = col("v"))) == canon(ref))
    val want = bits(refHistQuantiles(ref, Seq("grp"), qs))
    assert(want.keySet == Set("planted", "r0", "r1", "r2", "ties", "one"))
    // the build with its (constant) sub column …
    assert(bits(Sketch.hist2Quantiles(
      Sketch.hist2Build(df, Seq("grp"), col("v"), sBits = 0), Seq("grp"),
      qs, sBits = 0)) == want)
    // … and the merged halves in the persisted `Hist` layout (q47's shape)
    val a = df.where(col("v") % 2 === 0)
    val b = df.where(col("v") % 2 =!= 0)
    assert(bits(Sketch.hist2Quantiles(Sketch.merge(Sketch.Hist,
      Sketch.hist2Build(a, Seq("grp"), col("v"), sBits = 0),
      Sketch.hist2Build(b, Seq("grp"), col("v"), sBits = 0), Seq("grp")),
      Seq("grp"), qs, sBits = 0)) == want)
  }

  // ---- tables written before the shared lifecycle -----------------------

  test("parent layouts: flat HLL (with p), flat hist (no parameter column) " +
    "and fold-generation HLL/hist (with folded_batch) load, upsert and " +
    "fold with the same contents, and are rewritten in the same layouts") {
    val a = corpus(0 until 150)                 // groups g0..g2
    val b = corpus(150 until 240)               // more of every group
    val bG2 = b.where(col("grp") === "g2")
    val g = Seq("grp")
    def regs(df: DataFrame) = Sketch.hllRegisters(df, g, col("text"))
    def hist(df: DataFrame) = refHistBuild(df, g, length(col("text")))
    def columns(path: String) = spark.read.parquet(path).columns.toSeq
    // groups replaced by an upsert of g2 alone
    def replacedG2(old: DataFrame, g2: DataFrame) =
      canon(old.where(col("grp") =!= "g2")) ++ canon(g2)

    // flat HLL, as ExtractJob --profile-sketches wrote it: (grp, bucket, r, p)
    val flatHll = tmp("flathll")
    regs(a).withColumn("p", lit(9)).write.parquet(flatHll)
    val (loadedHll, p) = Sketch.load(spark, Sketch.Hll, g, flatHll)
    assert(p == Seq(9) && canon(loadedHll) == canon(regs(a)))
    Sketch.upsert(spark, Sketch.Hll, g, regs(bG2), Seq(9), flatHll)
    assert(canon(loaded(Sketch.Hll, flatHll)) == replacedG2(regs(a), regs(bG2)))
    assert(columns(flatHll) == Seq("grp", "bucket", "r", "p"))

    // flat hist: (grp, bucket, cnt), no parameter column
    val flatHist = tmp("flathist")
    hist(a).write.parquet(flatHist)
    assert(canon(loaded(Sketch.Hist, flatHist)) == canon(hist(a)))
    Sketch.upsert(spark, Sketch.Hist, g, lenHist(bG2), Nil, flatHist)
    assert(canon(loaded(Sketch.Hist, flatHist)) == replacedG2(hist(a), hist(bG2)))
    assert(columns(flatHist) == Seq("grp", "bucket", "cnt"))

    // a fold over a flat table migrates it to generations
    val flatHll2 = tmp("flathll2")
    regs(a).withColumn("p", lit(9)).write.parquet(flatHll2)
    Sketch.fold(spark, Sketch.Hll, g, regs(b), Seq(9), flatHll2, 0L)
    assert(canon(loaded(Sketch.Hll, flatHll2)) == canon(regs(a.unionByName(b))))
    val flatHist2 = tmp("flathist2")
    hist(a).write.parquet(flatHist2)
    Sketch.fold(spark, Sketch.Hist, g, lenHist(b), Nil, flatHist2, 0L)
    assert(canon(loaded(Sketch.Hist, flatHist2)) == canon(hist(a.unionByName(b))))

    // fold generations, as profileSketchQuery wrote them: _gen-<batchId>
    // with folded_batch (and p on the HLL rows)
    val genHll = tmp("genhll")
    regs(a).withColumn("folded_batch", lit(4L)).withColumn("p", lit(9))
      .write.parquet(s"$genHll/_gen-4")
    val genHist = tmp("genhist")
    hist(a).withColumn("folded_batch", lit(4L))
      .write.parquet(s"$genHist/_gen-4")
    assert(canon(loaded(Sketch.Hll, genHll)) == canon(regs(a)))
    assert(canon(loaded(Sketch.Hist, genHist)) == canon(hist(a)))
    // replaying batch 4 no-ops behind the persisted mark …
    Sketch.fold(spark, Sketch.Hll, g, regs(b), Seq(9), genHll, 4L)
    Sketch.fold(spark, Sketch.Hist, g, lenHist(b), Nil, genHist, 4L)
    assert(canon(loaded(Sketch.Hll, genHll)) == canon(regs(a)))
    assert(canon(loaded(Sketch.Hist, genHist)) == canon(hist(a)))
    // … and batch 5 folds in under register-max / counter-add
    Sketch.fold(spark, Sketch.Hll, g, regs(b), Seq(9), genHll, 5L)
    Sketch.fold(spark, Sketch.Hist, g, lenHist(b), Nil, genHist, 5L)
    assert(canon(loaded(Sketch.Hll, genHll)) == canon(regs(a.unionByName(b))))
    assert(canon(loaded(Sketch.Hist, genHist)) == canon(hist(a.unionByName(b))))
    assert(columns(s"$genHll/_gen-5") ==
      Seq("grp", "bucket", "r", "folded_batch", "p"))
    assert(columns(s"$genHist/_gen-5") ==
      Seq("grp", "bucket", "cnt", "folded_batch"))
  }
}
