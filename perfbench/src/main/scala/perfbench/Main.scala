package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.extract.{Extractor, Page}
import graft.sources.Warc

/** The Spark session of a workload and of its set-up probes: the
  * configuration its job's main builds (ExtractJob's or CurateJob's) at
  * `local[cores]`, with Spark's scratch space kept under `scratch`. */
object Session {
  def create(cores: Int, scratch: Path, wl: Workload): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
    if (wl.extractJob) b.config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val s = b
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The first trivial job, which ends set-up. */
  def firstJob(spark: SparkSession, cores: Int): Long =
    spark.range(0, 1000, 1, cores).count()
}

/** A set-up probe: a fresh JVM that builds the session, runs one trivial
  * job, says `ready` and stops. The caller times it from launch. */
object Setup {
  def main(args: Array[String]): Unit = {
    val spark = Session.create(args(0).toInt, Paths.get(args(1)), Workloads.byName(args(2)))
    Session.firstJob(spark, args(0).toInt)
    println("ready")
    System.out.flush()
    spark.stop()
  }
}

/** Heap occupancy after each collection between `start` and `stop`. Each
  * start collects first, so every call is measured from the same heap
  * rather than from wherever the old generation's sawtooth happens to be. */
final class HeapWatch extends NotificationListener {
  @volatile private var active = false
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def start(): Unit = { System.gc(); samples.clear(); active = true }
  /** Bytes after each collection since `start`; the current occupancy if
    * none ran. */
  def stop(): Seq[Long] = {
    active = false
    val got = samples.asScala.toSeq.map(_.longValue)
    if (got.nonEmpty) got else Seq(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (active && n.getType ==
      com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      samples.add(used)
    }
}

/** Spans of one traced run, kept in memory and written when it ends. */
final class Tracer(val runId: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val wallUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wallUs0 + (System.nanoTime() - nano0) / 1000L
  def add(name: String, startUs: Long, endUs: Long, parent: Int): Int = {
    spans += Span(spans.length + 1, name, startUs, endUs, parent); spans.length
  }
  /** Ends span `id` now. */
  def close(id: Int): Unit = spans(id - 1) = spans(id - 1).copy(endUs = nowUs)
  def count: Int = spans.length
  def write(p: Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"""{"run":${q(runId)},"id":${s.id},"name":${q(s.name)},"start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent}}""")
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int)
}

object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 8,
                        trace: Boolean = false, cores: Int = 4, root: String = ".",
                        scratch: String = ".perfbench", writeExpected: Boolean = false,
                        corrupt: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--scratch" :: v :: t => parse(t, o.copy(scratch = v))
    case "--write-expected" :: t => parse(t, o.copy(writeExpected = true))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument '$x'")
  }

  /** One timed call of the job entry point. */
  final case class Call(docs: Long, wallS: Double, t0Ms: Long, t1Ms: Long, t0Us: Long,
                        t1Us: Long, snap: JobListener.Snapshot, result: Check.Result,
                        markers: Seq[(String, Long)], traced: Boolean, heapBytes: Seq[Long]) {
    def docsPerS: Double = docs / wallS
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl = Workloads.byName(o.workload)
    val root = Paths.get(o.root).toAbsolutePath.normalize
    val scratch = Paths.get(o.scratch).toAbsolutePath.normalize
    val work = scratch.resolve(s"work/${wl.name}-${o.seed}")
    Workloads.rmrf(work)
    Files.createDirectories(work)
    val spark = Session.create(o.cores, scratch, wl)
    try {
      Session.firstJob(spark, o.cores)
      println("ready") // ends this JVM's set-up, timed by the caller like a probe's
      System.out.flush()
      val metrics = run(spark, wl, o, root, scratch, work)
      println(metrics)
    } finally {
      spark.stop()
      Workloads.rmrf(work)
    }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
        .mkString(",") + "}}"

  def run(spark: SparkSession, wl: Workload, o: Opts, root: Path, scratch: Path,
          work: Path): String = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val heap = new HeapWatch
    val in = wl.prepare(spark, root, o.seed, work, o.cores)
    System.err.println(s"perfbench: ${wl.name} seed ${o.seed}: " +
      in.props.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val expectedPath = root.resolve(s"perfbench/expected/${wl.name}.tsv")

    if (o.writeExpected) {
      wl.reset(work)
      val funnel = wl.runOnce(spark, in, work, o.cores)
      Check.writeTsv(expectedPath, wl.expectedOf(spark, in, work, funnel))
      return s"wrote $expectedPath"
    }
    val expected = Check.readTsv(expectedPath)
    val tracer = new Tracer(s"${wl.name}-${o.seed}-${System.currentTimeMillis()}")

    def call(traced: Boolean): Call = {
      wl.reset(work) // the previous call's output; not the program's work
      heap.start()
      listener.take(sc) // drop events of whatever ran before
      val t0Ms = System.currentTimeMillis()
      val t0Us = tracer.nowUs
      val t0 = System.nanoTime()
      val funnel =
        try Some(wl.runOnce(spark, in, work, o.cores))
        catch { case NonFatal(e) =>
          System.err.println(s"perfbench: ${wl.name} run failed: $e"); None }
      val wallS = (System.nanoTime() - t0) / 1e9
      val t1Us = tracer.nowUs
      val t1Ms = System.currentTimeMillis()
      val snap = listener.take(sc)
      val heapBytes = heap.stop()
      val markers = if (wl.extractJob) Nil else CurateWl.StageDirs.flatMap { d =>
        val m = work.resolve(s"out/$d/_SUCCESS")
        if (Files.exists(m)) Some(d -> Files.getLastModifiedTime(m).toMillis) else None
      }
      val result = funnel match {
        case Some(f) => wl.check(spark, in, work, f, expected, o.corrupt)
        case None => Check.Result(in.docs, 0L, 0L, in.docs, 0L, in.docs) // a crash fails every doc
      }
      System.err.println(f"perfbench: ${wl.name} call ${if (traced) "traced" else "untraced"}%s " +
        f"$wallS%.3f s ${in.docs / wallS}%.1f docs/s, ${heapBytes.length} GCs, heap max " +
        f"${heapBytes.max / 1e6}%.0f MB")
      if (!result.correct) System.err.println(s"perfbench: ${wl.name} output check failed: $result")
      Call(in.docs, wallS, t0Ms, t1Ms, t0Us, t1Us, snap, result, markers, traced, heapBytes)
    }

    // untimed: JIT and lazy set-up
    val warm = call(traced = false)
    val calls = mutable.ArrayBuffer.empty[Call]
    val windowId = tracer.add("bench.window", tracer.nowUs, 0L, 0)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // at least two timed calls: with one, whether a run got one call or two
    // depended on the host's speed, and the JIT still speeds the second up
    if (!o.trace)
      while (calls.length < 2 || elapsed < o.seconds) calls += call(traced = false)
    else // untraced and traced calls in ABBA order, two of each at least
      while (calls.length < 4 || elapsed < o.seconds)
        calls += call(traced = calls.length % 4 == 1 || calls.length % 4 == 2)

    tracer.close(windowId)
    val correct = (warm +: calls).forall(_.result.correct)
    val attempted = calls.map(_.result.attempted).sum
    val wrong = calls.map(_.result.wrongRows).sum

    if (!o.trace) {
      val failedRows = calls.map(_.result.failedRows).sum
      json(correct, attempted, wrong, Seq(
        ("docs_per_s", Stats.median(calls.map(_.docsPerS).toSeq), "1/s"),
        ("cpu_s_per_kdoc", Stats.median(calls.map(c => c.snap.cpuSeconds / c.docs * 1000).toSeq), "s"),
        // the warm-up call holds the same data, so it is one more sample
        ("peak_heap_mb", Stats.median((warm +: calls).map(_.heapBytes.max / 1e6).toSeq), "MB"),
        ("ok_frac", 1.0 - failedRows.toDouble / attempted, "frac")))
    } else {
      val traced = calls.filter(_.traced).toSeq
      val untraced = calls.filterNot(_.traced).toSeq
      traced.foreach(c => spansOf(tracer, wl, c, windowId))
      val layer = Layers.job(traced, wl.extractJob, o.cores) ++
        Layers.curate(traced, wl.extractJob) ++
        Layers.extractor(tracer, in) ++
        Layers.warcParse(in)
      val dpsU = Stats.median(untraced.map(_.docsPerS))
      val dpsT = Stats.median(traced.map(_.docsPerS))
      val tracePath = scratch.resolve(s"traces/${wl.name}-seed${o.seed}.json")
      val spans = tracer.count
      tracer.write(tracePath)
      System.err.println(s"perfbench: wrote $spans spans to $tracePath")
      // the per-layer times describe the program only if they account for it
      val covers = layer.collect { case ("extract.phase_cover", v, _) => v } ++
        (if (wl.extractJob) Nil else layer.collect { case ("curate.span_cover", v, _) => v })
      val covered = covers.forall(Layers.accounts)
      if (!covered) System.err.println(
        s"perfbench: per-layer spans do not account for the measured time: $covers")
      json(correct && covered, attempted, wrong, layer ++ Seq(
        ("trace.docs_per_s_untraced", dpsU, "1/s"),
        ("trace.docs_per_s_traced", dpsT, "1/s"),
        ("trace.overhead_frac", 1.0 - dpsT / dpsU, "frac"),
        ("trace.spans", spans.toDouble, "count")))
    }
  }

  /** Spans of one traced call: the call, its Spark jobs and their stages. */
  private def spansOf(tracer: Tracer, wl: Workload, c: Call, parent: Int): Unit = {
    val entry = if (wl.extractJob) "job.ExtractJob.run" else "job.CurateJob.run"
    val callId = tracer.add(entry, c.t0Us, c.t1Us, parent)
    val stageIds = mutable.Map.empty[Int, Int]
    c.snap.jobs.foreach { j =>
      val jid = tracer.add(s"spark.job.${j.jobId}", j.start * 1000, j.end * 1000, callId)
      j.stageIds.foreach(s => stageIds.getOrElseUpdate(s, jid))
    }
    val roles = c.snap.roles(wl.extractJob)
    c.snap.stages.foreach { s =>
      val role = roles.get((s.stageId, s.attempt)).map(_.name).getOrElse("other")
      tracer.add(s"spark.stage.${s.stageId}.$role", s.submitted * 1000, s.completed * 1000,
        stageIds.getOrElse(s.stageId, callId))
    }
    Layers.curateSpans(c).foreach { case (n, a, b) => tracer.add(n, a * 1000, b * 1000, callId) }
  }
}

/** Per-layer metrics, each read from spans or counts recorded by the
  * benchmark around calls into one layer's public functions. */
object Layers {
  type M = Seq[(String, Double, String)]

  /** Whether a cover (Σ spans ÷ the time they split) is within 10% of 1. */
  def accounts(cover: Double): Boolean = cover >= 0.9 && cover <= 1.1

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** graft.job: Spark task metrics of the traced calls, grouped by stage role. */
  def job(calls: Seq[Main.Call], extractJob: Boolean, cores: Int): M = {
    def per(f: Main.Call => Double): Double = med(calls.map(f))
    def roleOf(c: Main.Call) = c.snap.roles(extractJob)
    def stageWall(c: Main.Call, r: Stats.Role): Double = {
      val roles = roleOf(c)
      c.snap.stages.filter(s => roles.get((s.stageId, s.attempt)).contains(r))
        .map(s => (s.completed - s.submitted) / 1000.0).sum
    }
    def tasksOf(c: Main.Call, r: Stats.Role) = {
      val roles = roleOf(c)
      c.snap.tasks.filter(t => roles.get((t.stageId, t.stageAttempt)).contains(r))
    }
    def sum(c: Main.Call)(f: JobListener.TaskRec => Long): Double = c.snap.tasks.map(f).sum.toDouble
    Seq(
      ("job.scan_stage_s", per(stageWall(_, Stats.Scan)), "s"),
      ("job.extract_stage_s", per(stageWall(_, Stats.Extract)), "s"),
      ("job.extract_task_skew", per { c =>
        val ts = tasksOf(c, Stats.Extract).map(_.runMs.toDouble)
        if (ts.isEmpty) 0.0 else Stats.skew(ts)
      }, "ratio"),
      ("job.commit_s", per { c =>
        val ends = tasksOf(c, Stats.Extract).map(_.finish)
        if (ends.isEmpty) 0.0 else (c.t1Ms - ends.max) / 1000.0
      }, "s"),
      ("job.shuffle_write_mb", per(sum(_)(_.shuffleWriteBytes) / 1e6), "MB"),
      ("job.shuffle_fetch_wait_s", per(sum(_)(_.fetchWaitMs) / 1000.0), "s"),
      ("job.input_mb", per(sum(_)(_.inputBytes) / 1e6), "MB"),
      ("job.output_mb", per(sum(_)(_.outputBytes) / 1e6), "MB"),
      ("job.spill_mb", per(sum(_)(_.spillBytes) / 1e6), "MB"),
      ("job.gc_s", per(sum(_)(_.gcMs) / 1000.0), "s"),
      ("job.spark_jobs", per(_.snap.jobs.length.toDouble), "count"),
      ("job.spark_stages", per(_.snap.stages.length.toDouble), "count"),
      ("job.tasks", per(_.snap.tasks.length.toDouble), "count"),
      ("job.slot_busy_frac", per(c =>
        Stats.slotBusyFrac(sum(c)(_.runMs) / 1000.0, c.wallS, cores)), "frac"))
  }

  /** CurateJob stages in run order, named after the metric they feed. */
  val CurateStages: Seq[(String, String)] = Seq("exact" -> "stage_exact", "near" -> "stage_near",
    "quality" -> "stage_quality", "decontam" -> "stage_decontam", "sample" -> "curated")

  /** Stage spans of one curation call, from the `_SUCCESS` markers: a
    * stage runs from the first Spark job started after the previous
    * marker (the call's start for the first stage) to its own marker. */
  def curateSpans(c: Main.Call): Seq[(String, Long, Long)] = {
    val marks = c.markers.toMap
    if (!CurateStages.forall { case (_, d) => marks.contains(d) }) Nil
    else {
      val bounds = c.t0Ms +: CurateStages.map { case (_, d) => marks(d) }
      CurateStages.indices.map { i =>
        val firstJob = c.snap.jobs.map(_.start).filter(_ >= bounds(i)).minOption
          .getOrElse(bounds(i)).min(bounds(i + 1))
        (s"curate.${CurateStages(i)._1}", firstJob, bounds(i + 1))
      }
    }
  }

  /** graft.pipeline: CurateJob stage times, the near-dedup job count and
    * how much of the call's wall the stage spans plus its set-up cover. */
  def curate(calls: Seq[Main.Call], extractJob: Boolean): M = {
    def marks(c: Main.Call) = c.t0Ms +: CurateStages.map { case (_, d) =>
      c.markers.toMap.getOrElse(d, c.t0Ms) }
    val stageS = CurateStages.indices.map { i =>
      (s"curate.${CurateStages(i)._1}_s",
        if (extractJob) 0.0 else med(calls.map { c => val m = marks(c); (m(i + 1) - m(i)) / 1000.0 }),
        "s")
    }
    val nearJobs = if (extractJob) 0.0 else med(calls.map { c =>
      val m = marks(c)
      c.snap.jobs.count(j => j.start >= m(1) && j.start < m(2)).toDouble
    })
    val cover = if (extractJob) 0.0 else med(calls.map { c =>
      val spans = curateSpans(c)
      // set-up: from the call's start to the first stage's first job
      val setup = spans.headOption.map(_._2 - c.t0Ms).getOrElse(0L)
      (setup + spans.map(s => s._3 - s._2).sum) / 1000.0 / c.wallS
    })
    stageS ++ Seq(("curate.near_spark_jobs", nearJobs, "count"), ("curate.span_cover", cover, "frac"))
  }

  /** graft.extract / graft.html: the phase times over the workload's
    * distinct bodies, and the per-doc latency of `Extractor.extract` over
    * its rows. Single thread, weighted by how many rows carry each body.
    * Hostile bodies are left out, and so are empty ones, for which the
    * extractor builds no `Article`. */
  def extractor(tracer: Tracer, in: Input): M = {
    val bodies = in.bodies.toSeq
      .filterNot { case (t, b) => in.hostile(t) || b.isEmpty }.sortBy(_._1)
    val phaseNs = mutable.Map.empty[String, mutable.ArrayBuffer[Array[Long]]]
    val extractNs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    val cands = mutable.Map.empty[String, Long]
    val pruned = mutable.Map.empty[String, Long]
    val passId = tracer.add("pass.phases", tracer.nowUs, 0L, 0)
    // Round 0 warms up and records one span set per body; later rounds are
    // timed and alternate which of the two runs first. Rounds repeat until
    // the timed ones took a few seconds. Each body's times are medians over
    // the rounds, and its cover is the median of the rounds' ratios: the two
    // sides of a ratio run back to back, so the host's drift cancels.
    def round(rep: Int): Unit = bodies.foreach { case (tpl, html) =>
      val url = s"https://phases.example/$tpl"
      def extract() = {
        val e0 = Phases.cpuNow()
        Extractor.extract(Page(url, new java.sql.Timestamp(0L), html, "", ""))
        Phases.cpuNow() - e0
      }
      val first = if (rep % 2 == 0) Some(extract()) else None
      val s0 = tracer.nowUs
      val ph = Phases.run(html, url)
      val eNs = first.getOrElse(extract())
      if (rep == 0) {
        val docId = tracer.add("extract.doc", s0, tracer.nowUs, passId)
        var at = s0
        Phases.Names.indices.foreach { i =>
          tracer.add(Phases.Names(i), at, at + ph.ns(i) / 1000, docId); at += ph.ns(i) / 1000
        }
        cands(tpl) = ph.candidates
        pruned(tpl) = ph.pruned
      } else {
        phaseNs.getOrElseUpdate(tpl, mutable.ArrayBuffer.empty) += ph.ns
        extractNs.getOrElseUpdate(tpl, mutable.ArrayBuffer.empty) += eNs
      }
    }
    System.gc() // the job calls' garbage is not the pass's
    round(0)
    val timedStart = System.nanoTime()
    var reps = 0
    while (reps < 7 || (reps < 30 && System.nanoTime() - timedStart < 8e9)) {
      reps += 1
      round(reps)
    }
    tracer.close(passId)
    val rows = bodies.map { case (t, _) => in.freq.getOrElse(t, 0).toDouble }.sum
    def weighted(f: String => Double): Double =
      bodies.map { case (t, _) => in.freq.getOrElse(t, 0) * f(t) }.sum / rows
    val phaseMs = Phases.Names.indices.map(i =>
      weighted(t => Stats.median(phaseNs(t).map(_(i) / 1e6).toSeq)))
    val extractMs = weighted(t => Stats.median(extractNs(t).map(_ / 1e6).toSeq))
    // each body's median ratio, weighted by its share of the extract time
    val cover = weighted { t =>
      val ratios = phaseNs(t).zip(extractNs(t)).collect { case (ph, e) if e > 0 => ph.sum.toDouble / e }
      if (ratios.isEmpty) 0.0 else Stats.median(extractNs(t).map(_ / 1e6).toSeq) * Stats.median(ratios.toSeq)
    } / extractMs

    // per-doc latency: Extractor.extract over the workload's rows, in whole
    // passes (so every seed samples the same mix) until the 99th percentile
    // has ten samples beyond it
    val rowTpls = in.templateOf.toSeq.sortBy(_._1).map(_._2)
    val lat = new Array[Double](rowTpls.length * ((999 + rowTpls.length) / rowTpls.length))
    require(Stats.supported(99, lat.length))
    val latId = tracer.add("pass.latency", tracer.nowUs, 0L, 0)
    lat.indices.foreach { i =>
      val tpl = rowTpls(i % rowTpls.length)
      val t0 = System.nanoTime()
      Extractor.extract(Page(s"https://latency.example/$i", new java.sql.Timestamp(0L),
        in.bodies(tpl), "", ""))
      lat(i) = (System.nanoTime() - t0) / 1e6
    }
    tracer.close(latId)
    val p50 = Stats.percentile(lat.toSeq, 50)
    val p99 = Stats.percentile(lat.toSeq, 99)
    Phases.Names.indices.map(i => (s"${Phases.Names(i)}_ms_per_kdoc", phaseMs(i) * 1000, "ms")) ++ Seq(
      ("extract.doc_ms_p50", p50.value, "ms"),
      ("extract.doc_ms_p99", p99.value, "ms"),
      ("extract.doc_samples", p99.samples.toDouble, "count"),
      ("extract.candidates_per_doc", weighted(t => cands.getOrElse(t, 0L).toDouble), "count"),
      ("extract.pruned_per_doc", weighted(t => pruned.getOrElse(t, 0L).toDouble), "count"),
      ("extract.phase_cover", if (extractMs > 0) cover else 0.0, "frac"))
  }

  /** graft.sources: `Warc.parseAll` over each distinct body packed as a
    * per-record-gzip WARC, weighted by rows. */
  def warcParse(in: Input): M = {
    val blobs = in.bodies.toSeq.sortBy(_._1).map { case (t, b) =>
      t -> Warc.writeWarc(Seq((s"https://warc.example/$t", "2026-02-01T00:00:00Z", b)),
        gzipPerRecord = true)
    }
    val reps = 5
    val ns = mutable.Map.empty[String, Long]
    for (rep <- 0 to reps; (t, blob) <- blobs) {
      val t0 = System.nanoTime()
      val n = Warc.parseAll(blob).length
      val d = System.nanoTime() - t0
      require(n == 2, s"warc replay of $t parsed $n records")
      if (rep > 0) ns(t) = ns.getOrElse(t, 0L) + d
    }
    val rows = in.freq.values.sum.toDouble
    val ms = blobs.map { case (t, _) => in.freq.getOrElse(t, 0) * ns(t) / 1e6 / reps }.sum / rows
    Seq(("sources.warc_parse_ms_per_kdoc", ms * 1000, "ms"))
  }
}
