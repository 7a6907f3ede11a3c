package graftbench

import graft.engine.{ConnOptions, GraftEngine, Subscription}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

/** The epoch benchmark. One client thread drives a closed loop through the
  * engine's public API: each epoch generates its rows from the seed and
  * stamps their creation time, calls `LiveTable.insert`, then
  * `GraftEngine.flush`, then drains every subscription cursor until it is
  * caught up (and, where the workload says so, runs its ad-hoc reads).
  *
  * Usage: `EpochBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--work <dir>]`; Spark runs as `local[<available processors>]`. Untimed `{"info": ...}` lines come first;
  * the last stdout line is the result object. `--trace 0` reports the
  * end-to-end metrics, `--trace 1` the per-layer ones from a traced run. */
object EpochBench {
  val SetupRounds = 3
  private[graftbench] val FetchMax = 1000000
  /** Span epoch numbers outside the timed loop: set-up and warm-up work,
    * and the timed ad-hoc reads after the loop. */
  private[graftbench] val Untimed = -1
  private[graftbench] val AfterLoop = -2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(Runtime.getRuntime.availableProcessors(), a.work)
    // set-up time is reported by untraced runs only; a traced run sets up once
    val r = new Run(spark, a.workload, a.seed, a.seconds, a.trace,
      setupRounds = if (a.trace) 1 else SetupRounds).execute()
    r.report()
    val metrics =
      if (!a.trace) r.endToEnd
      else {
        val layers = r.perLayer
        if (a.workload == "mv_fanout") {
          // the single-threaded baseline: same workload at local[1], per-layer
          // numbers only, not gated. The JIT is warm from the first pass, so
          // a short warm-up and half the timed window keep the run in time.
          spark.stop()
          val one = new Run(session(1, a.work), a.workload, a.seed, (a.seconds + 1) / 2, true,
            setupRounds = 1, warmup = Some(2), label = "local1_").execute()
          info("local1_per_layer", ("correct" -> one.correct) +:
            one.perLayer.map { case (k, (v, _)) => k -> v }: _*)
        }
        layers
      }
    println(Json(Json.obj(
      "correct" -> r.correct,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> Json.Obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj("value" -> v, "unit" -> unit) }))))
    System.out.flush()
    // the engine is closed; exiting ends Spark's threads with the JVM
    sys.exit(0)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(Workload.names.contains(wl), s"unknown workload $wl (one of ${Workload.names.mkString(", ")})")
    Args(wl, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("work", "."))
  }

  /** The engine's own defaults (as `GraftEngine.open` builds them) at
    * `local[cores]`, with every directory Spark writes kept under `work`. */
  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Two fixed-work clocks, min of 3 each: one thread of pure ALU work
    * (1e8 splitmix64 steps) and a fixed 1M-row / 64-group Spark job into
    * the noop sink. A wall time is comparable across machines or hours only
    * beside these. Runs after the set-up, before the warm-up epochs. */
  private[graftbench] def calibrate(spark: SparkSession): (Double, Double) = {
    def timeMin(f: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    var sink = 0L
    val cpu = timeMin {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 100000000) {
        x += 0x9E3779B97F4A7C15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        sink ^= z ^ (z >>> 31)
        i += 1
      }
    }
    if (sink == 42L) System.err.println("calibration sink") // keeps the loop live
    val tiny = timeMin {
      import org.apache.spark.sql.functions._
      spark.range(1000000L).groupBy((col("id") % 64).as("k"))
        .agg(count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    (cpu, tiny)
  }

  def info(what: String, fields: (String, Any)*): Unit =
    println(Json(Json.obj(("info" -> what) +: fields: _*)))

  // ---- statistics ----------------------------------------------------------

  /** Linear-interpolated percentile (`q` in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else pct(xs, 50)

  /** A timing as its median and the highest percentile that has at least
    * ten samples beyond it (null when the sample is too small for any). */
  def summary(xs: Seq[Double]): Json.Obj = {
    val tail = Seq(99.9, 99.0, 90.0).find(q => xs.size * (100 - q) / 100 >= 10 - 1e-9)
    Json.obj("n" -> xs.size, "p50" -> median(xs),
      "tail_pct" -> tail, "tail" -> tail.map(pct(xs, _)))
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Processes the machine has started since boot (Linux `/proc/stat`;
    * 0 elsewhere). Hadoop's local file system shells out (`chmod`,
    * `readlink`) when its native library is absent, so this counts the
    * engine's file operations that cost a process each. */
  private[graftbench] def processesStarted: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("processes ")).map(_.split(' ')(1).toLong).getOrElse(0L)
      finally src.close()
    } catch { case NonFatal(_) => 0L }

  private[graftbench] def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** One timed epoch's walls (ms): the whole epoch, freshness, and the
  * insert, FLUSH and cursor-drain steps; GC time in it; the processes the
  * machine started during it; whether it was traced. */
final case class EpochRec(wall: Double, freshness: Double, insert: Double, flush: Double,
                          drain: Double, gcMs: Double, spawned: Long, traced: Boolean)

/** A cursor's delivered 4-op changelog folded into a multiset of rows, each
  * row held as a 64-bit hash of its values: Insert and UpdateInsert add one,
  * Delete and UpdateDelete remove one. A count that drops below zero (a
  * retraction of a row never delivered) or an unknown op fails the gate. */
final class Fold {
  val counts = mutable.LongMap.empty[Long]
  var negative = false
  var unknownOps = 0L
  def add(rows: Seq[Row]): Unit = rows.foreach { r =>
    val d = r.getString(r.length - 2) match {
      case "Insert" | "UpdateInsert" => 1L
      case "Delete" | "UpdateDelete" => -1L
      case _ => unknownOps += 1; 0L
    }
    if (d != 0) {
      // the last two columns are the op and the changelog offset
      val k = Fold.hash(r.toSeq.dropRight(2))
      val n = counts.getOrElse(k, 0L) + d
      if (n < 0) negative = true
      if (n == 0) counts -= k else counts(k) = n
    }
  }
}

object Fold {
  def hash(xs: Seq[Any]): Long =
    (MurmurHash3.orderedHash(xs, 0x3c074a61).toLong << 32) |
      (MurmurHash3.orderedHash(xs, 0x1b873593) & 0xffffffffL)
  /** Plain rows (a batch result) as the same multiset of hashes. */
  def multiset(rows: Seq[Row]): mutable.LongMap[Long] = {
    val m = mutable.LongMap.empty[Long]
    rows.foreach { r => val k = hash(r.toSeq); m(k) = m.getOrElse(k, 0L) + 1 }
    m
  }
}

/** Records every distinct `graft.phase` tag jobs carry: a few hash-set
  * inserts on the listener bus, so it stays on in untraced runs too. */
final class PhaseTags extends SparkListener {
  val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("graft.phase"))).foreach(seen.add)
}

/** One workload run: set-up rounds, warm-up, the retained-heap reading,
  * the timed loop, the ad-hoc reads and the correctness gate. */
final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                traced: Boolean, setupRounds: Int = EpochBench.SetupRounds,
                warmup: Option[Int] = None, label: String = "") {
  import EpochBench._

  private val sc: SparkContext = spark.sparkContext
  private val tags = new PhaseTags
  private val tracer = if (traced) Some(new Tracer(sc)) else None
  private val spans = new Spans(sc)

  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = mutable.ArrayBuffer[String]()

  private var rw: GraftEngine = _
  private var wl: Workload = _
  private var subs: Seq[(String, String, Subscription)] = Nil
  // each cursor's delivered changelog folded as it arrives: row hash →
  // multiplicity, a few bytes a row, so the cursors' logs do not swell the
  // heap reading
  private val delivered = mutable.Map[String, Fold]()

  private val setupS = mutable.ArrayBuffer[Double]()
  private var calibration = (0.0, 0.0)
  private var sessionReadyMs = 0.0
  private var firstTimedMs = 0.0
  private val epochs = mutable.ArrayBuffer[EpochRec]()
  private var rowsTimed = 0L
  private var loopMs = 0.0
  private var postLoopMs = 0.0
  private val queryMs = mutable.ArrayBuffer[Double]()
  private var heapMb = 0.0
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var modes: Seq[Json.Obj] = Nil

  def correct: Boolean = failedN == 0
  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** Counts one call or check; a thrown call counts as failed. */
  private def attempt[T](what: String)(f: => T): Option[T] = {
    attemptedN += 1
    try Some(f) catch {
      case NonFatal(e) =>
        failedN += 1
        if (failures.size < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (failures.size < 20) failures += s"$what: $detail"
    }
    checks += ((what, ok, if (ok) "" else detail))
  }

  def execute(): this.type = {
    sc.addSparkListener(tags)
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    sessionReadyMs = spans.nowMs
    (1 to setupRounds).foreach { _ =>
      if (rw != null) rw.close()
      val t0 = System.nanoTime()
      setUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    probe(timed = false, wl.probes().takeRight(3)) // one read of each shape
    calibration = calibrate(spark)
    // the warm-up epochs come last, so the first timed epoch follows epochs
    // as every later one does
    (0 until warmup.getOrElse(wl.warmupEpochs)).foreach(_ => epoch(Untimed))
    // read at a state fixed by the seed: at the end of the run the state
    // would depend on how many epochs the machine's speed allowed
    heapMb = settledHeapMb()
    firstTimedMs = spans.nowMs
    val deadline = System.nanoTime() + seconds * 1000000000L
    var e = 0
    while (System.nanoTime() < deadline) {
      // in a traced run every other epoch is traced; the untraced ones
      // measure the tracing overhead in the same process
      spans.traced = traced && e % 2 == 1
      epoch(e)
      e += 1
    }
    spans.traced = false
    loopMs = spans.nowMs - firstTimedMs
    System.gc() // the reads start from the same heap state in every run
    spans.traced = traced
    probe(timed = true, wl.probes())
    spans.traced = false
    modes = maintenanceModes()
    gate()
    delivered.clear()
    tracer.foreach(_.drain())
    rw.close()
    postLoopMs = spans.nowMs - firstTimedMs - loopMs
    this
  }

  /** Heap in use after full GCs, repeated until Spark's context cleaner
    * (which drops cached blocks once their datasets are collected) has
    * settled: two readings within 1%, at most three rounds. */
  private def settledHeapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used
    var cur = prev
    var i = 0
    do {
      Thread.sleep(100)
      prev = cur
      cur = used
      i += 1
    } while (i < 3 && math.abs(cur - prev) > prev * 0.01)
    cur
  }

  /** Engine open, DDL and initial load, MV creation with backfill, and the
    * cursors (from offset 0) drained of the backfill. */
  private def setUp(): Unit = {
    rw = GraftEngine.open(ConnOptions(), Some(spark))
    wl = Workload(workload, seed)
    wl.createTables(rw)
    rw.flush()
    wl.mvs.foreach { case (name, stmt) => rw.mv(stmt, name) }
    rw.flush() // streaming maintainers backfill on their first drain
    delivered.clear()
    subs = wl.subscribed.map { case (name, stmt) =>
      delivered(name) = new Fold
      (name, stmt, rw.subscriptionFor(name).declareCursor(Some(0L)))
    }
    subs.foreach { case (name, _, s) => drain(name, s, Untimed) }
  }

  /** Fetches until the cursor is caught up; returns when the last call
    * that delivered rows returned (None: nothing was delivered). */
  private def drain(name: String, s: Subscription, e: Int): Option[Double] = {
    var last: Option[Double] = None
    var more = true
    while (more) {
      val got = attempt(s"fetch $name")(spans("fetch", e)(s.fetch(FetchMax))(_.size.toLong))
        .getOrElse(Nil)
      if (got.nonEmpty) {
        last = Some(spans.nowMs)
        delivered(name).add(got)
      }
      more = got.size == FetchMax
    }
    last
  }

  private def epoch(e: Int): Unit = {
    val gc0 = gcMs
    val procs0 = if (spans.traced) processesStarted else 0L
    val t0 = spans.nowMs
    val batches = wl.nextEpoch()
    val created = spans.nowMs
    spans("epoch", e) {
      val insert = spans.nowMs
      batches.foreach { case (t, rows) =>
        attempt(s"insert $t")(spans("insert", e)(rw.table(t).get.insert(rows))())
      }
      val flush = spans.nowMs
      attempt("flush")(spans("flush", e)(rw.flush())())
      val drainStart = spans.nowMs
      val last = subs.flatMap { case (name, _, s) => drain(name, s, e) }
      val drained = spans.nowMs
      if (e >= 0) {
        rowsTimed += batches.map(_._2.size.toLong).sum
        epochs += EpochRec(wall = spans.nowMs - t0,
          freshness = (if (last.isEmpty) drained else last.max) - created,
          insert = flush - insert, flush = drainStart - flush, drain = drained - drainStart,
          gcMs = (gcMs - gc0).toDouble,
          spawned = if (spans.traced) processesStarted - procs0 else 0L,
          traced = spans.traced)
      }
    }()
  }

  /** Ad-hoc reads, each checked against the model: a few untimed before
    * the warm-up, the workload's whole batch timed after the loop. */
  private def probe(timed: Boolean, batch: Seq[Probe]): Unit = batch.foreach { p =>
    val t0 = System.nanoTime()
    attempt("query")(spans("query", if (timed) AfterLoop else Untimed)(rw.fetch(p.sql))(_.size.toLong)).foreach { got =>
      if (timed) queryMs += (System.nanoTime() - t0) / 1e6
      val rows = got.map(_.toSeq)
      check(s"query ${p.sql}", rows == p.expected, s"got ${rows.take(3)} want ${p.expected.take(3)}")
    }
  }

  private def multiset(rows: Iterable[Seq[Any]]): Map[Seq[Any], Long] =
    rows.groupMapReduce(identity)(_ => 1L)(_ + _)

  /** The correctness gate: each cursor's delivered 4-op changelog, folded
    * into a multiset, equals its statement re-run in batch over the final
    * tables; each MV's queryable state equals its statement in batch. */
  private def gate(): Unit = {
    subs.foreach { case (name, stmt, _) =>
      attempt(s"parity $name") {
        val f = delivered(name)
        val want = Fold.multiset(rw.fetch(stmt))
        check(s"changelog parity $name", !f.negative && f.unknownOps == 0 && f.counts == want,
          s"folded ${f.counts.values.sum} rows (negative=${f.negative}, " +
            s"unknown ops=${f.unknownOps}) vs batch ${want.values.sum}")
      }
    }
    wl.mvs.foreach { case (name, stmt) =>
      attempt(s"state parity $name") {
        val got = multiset(rw.fetch(s"SELECT * FROM $name").map(_.toSeq))
        val want = multiset(rw.fetch(stmt).map(_.toSeq))
        check(s"state parity $name", got == want,
          s"MV ${got.values.sum} rows vs batch ${want.values.sum}")
      }
    }
  }

  /** Each MV's maintenance mode (a running Structured Streaming maintainer,
    * an incremental changelog path that tags its phases, or a batch re-run
    * that tags none) and the phase tags its jobs carried. */
  private def maintenanceModes(): Seq[Json.Obj] = {
    val streams = spark.streams.active.map(_.name).toSet
    val seen = tags.seen.asScala.toSeq.sorted
    rw.fetch("SHOW MATERIALIZED VIEWS").map(_.getString(0)).sorted.map { v =>
      val phases = seen.filter(_.startsWith(s"$v:")).map(_.drop(v.length + 1))
      val mode =
        if (streams.contains(s"${v}_maintainer")) "streaming"
        else if (phases.exists(_ != "backfill")) "incremental"
        else "batch-rerun"
      Json.obj("view" -> v, "mode" -> mode, "phases" -> phases)
    }
  }

  /** Untimed lines: set-up, modes, per-step timings, checks. */
  def report(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    info("calibration", "cpu_st_s" -> calibration._1,
      "spark_tiny_s" -> calibration._2, "cores" -> sc.defaultParallelism)
    info("setup", "rounds_s" -> setupS.toSeq,
      "session_ready_s" -> (sessionReadyMs - jvmStart) / 1000,
      "process_to_first_timed_epoch_s" -> (firstTimedMs - jvmStart) / 1000)
    info("modes", "mvs" -> modes)
    val untraced = epochs.filterNot(_.traced).toSeq
    info("timings", "workload" -> workload, "seed" -> seed, "epochs" -> epochs.size,
      "rows" -> rowsTimed, "loop_s" -> loopMs / 1000, "after_loop_s" -> postLoopMs / 1000,
      "freshness_ms" -> summary(untraced.map(_.freshness)),
      "insert_ms" -> summary(untraced.map(_.insert)),
      "flush_ms" -> summary(untraced.map(_.flush)),
      "drain_ms" -> summary(untraced.map(_.drain)),
      "gc_ms" -> summary(untraced.map(_.gcMs)),
      "query_ms" -> summary(queryMs.toSeq),
      "freshness_series_ms" -> untraced.map(m => math.rint(m.freshness)),
      "query_series_ms" -> queryMs.map(math.rint).toSeq)
    info("checks", "passed" -> checks.count(_._2), "failed" -> checks.count(!_._2),
      "failures" -> failures.toSeq)
  }

  def endToEnd: Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (median(setupS.toSeq), "s"),
    "freshness_p50_ms" -> (median(epochs.map(_.freshness).toSeq), "ms"),
    "throughput_rows_per_s" -> (rowsTimed / (loopMs / 1000), "rows/s"),
    "heap_retained_mb" -> (heapMb, "MB"))

  // ---- per-layer attribution (traced run) -------------------------------

  def perLayer: Seq[(String, (Double, String))] = {
    val t = tracer.get
    val all = spans.all.toSeq
    val byId = all.map(s => s.id -> s).toMap
    val children = all.filter(s => s.kind != "epoch")
    val tracedEpochs = epochs.indices.filter(epochs(_).traced).toSet
    // a job belongs to the span it was tagged with when it started inside
    // it; jobs of other threads (the Structured Streaming maintainer) to
    // the innermost span open when they started
    def spanOf(j: JobRec): Option[Span] =
      j.span.flatMap(byId.get).filter(_.contains(j.startMs.toDouble))
        .orElse(children.find(_.contains(j.startMs.toDouble)))
        .orElse(all.find(s => s.kind == "epoch" && s.contains(j.startMs.toDouble)))
    val jobs = t.jobList.filter(_.endMs >= 0).flatMap(j => spanOf(j).map(j -> _))
    // each stage counts once, for the first job that lists it
    val stageById = t.stages.asScala.map(s => s.id -> s).toMap
    val stageOwner = mutable.Map[Int, Int]()
    t.jobList.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))
    def stagesOf(j: JobRec): Seq[StageRec] =
      j.stageIds.filter(stageOwner.get(_).contains(j.id)).flatMap(stageById.get)
    def sumStages(js: Seq[JobRec])(f: StageRec => Long): Double =
      js.flatMap(stagesOf).map(f).sum.toDouble
    def jobMs(js: Seq[JobRec]): Double = js.map(j => (j.endMs - j.startMs).toDouble).sum
    def clipped(js: Seq[JobRec], s: Span): Seq[(Double, Double)] =
      js.map(j => (j.startMs.toDouble.max(s.startMs), j.endMs.toDouble.min(s.endMs)))
    def planMs(s: Span): Double = t.plans.asScala.filter(p => s.contains(p.startMs.toDouble))
      .map(_.durMs.toDouble).sum
    def isTableTag(p: String) = p.split(":", 2).lift(1).exists(_.startsWith("tbl-"))

    val n = tracedEpochs.size.max(1).toDouble
    val inEpochs = jobs.filter { case (_, s) => tracedEpochs.contains(s.epoch) }
    val epochJobs = inEpochs.map(_._1)
    def spansOf(kind: String) = children.filter(s => s.kind == kind && tracedEpochs.contains(s.epoch))
    def jobsIn(kind: String) = inEpochs.collect { case (j, s) if s.kind == kind => j }
    val flushSpans = spansOf("flush")
    val flushJobsBySpan = flushSpans.map(s => s -> jobs.collect { case (j, x) if x.id == s.id => j })
    val flushJobMs = flushJobsBySpan.map { case (s, js) => unionLen(clipped(js, s)) }.sum
    val flushTaggedMs = flushJobsBySpan.map { case (s, js) =>
      unionLen(clipped(js.filter(_.phase.nonEmpty), s)) }.sum
    val flushJobs = flushJobsBySpan.flatMap(_._2)
    val clJobs = epochJobs.filter(_.phase.exists(p => p.contains(":tbl-changelog-")))
    val mvJobs = epochJobs.filter(_.phase.exists(p => !isTableTag(p)))
    val fetchSpans = spansOf("fetch")
    val queryScope = children.filter(s => s.kind == "query" && s.epoch == AfterLoop)
    val queryJobs = queryScope.map(s => s -> jobs.collect { case (j, x) if x.id == s.id => j })
    val nq = queryScope.size.max(1).toDouble
    val perEpochConcurrency = tracedEpochs.toSeq.flatMap { e =>
      all.find(s => s.kind == "epoch" && s.epoch == e).map { s =>
        val ts = t.tasks.asScala.filter(x => s.contains(x._1.toDouble)).toSeq
        val events = ts.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(x => (x._1, x._2))
        events.scanLeft(0)(_ + _._2).max.toDouble
      }
    }
    val tracedWall = epochs.filter(_.traced).map(_.wall).toSeq
    val untracedWall = epochs.filterNot(_.traced).map(_.wall).toSeq

    val perView = mvJobs.groupBy(_.phase.get.replace(':', '.')).toSeq.sortBy(_._1).map { case (k, js) =>
      s"mv.$k" -> Json.obj("jobs" -> js.size / n, "job_ms" -> jobMs(js) / n,
        "input_bytes" -> sumStages(js)(_.inputBytes) / n,
        "shuffle_write_bytes" -> sumStages(js)(_.shuffleWriteBytes) / n)
    }
    info(s"${label}per_view_phase", ("traced_epochs" -> tracedEpochs.size) +: perView: _*)
    info(s"${label}flush_attribution",
      "wall_ms" -> flushSpans.map(_.wallMs).sum / n,
      "tagged_job_ms" -> flushTaggedMs / n,
      "untagged_job_ms" -> (flushJobMs - flushTaggedMs) / n,
      "driver_self_ms" -> (flushSpans.map(_.wallMs).sum - flushJobMs) / n,
      "trace_overhead_ms" -> (median(tracedWall) - median(untracedWall)),
      "traced_epoch_ms" -> median(tracedWall), "untraced_epoch_ms" -> median(untracedWall))

    val ms = "ms"; val cnt = "count"; val by = "bytes"
    Seq(
      "LiveTable.insert_ms" -> (spansOf("insert").map(_.wallMs).sum / n, ms),
      "LiveTable.changelog.jobs" -> (clJobs.size / n, cnt),
      "LiveTable.changelog.job_ms" -> (jobMs(clJobs) / n, ms),
      "LiveTable.changelog.input_bytes" -> (sumStages(clJobs)(_.inputBytes) / n, by),
      "LiveTable.changelog.shuffle_write_bytes" -> (sumStages(clJobs)(_.shuffleWriteBytes) / n, by),
      "flush.wall_ms" -> (flushSpans.map(_.wallMs).sum / n, ms),
      "flush.job_ms" -> (flushJobMs / n, ms),
      "flush.tagged_job_ms" -> (flushTaggedMs / n, ms),
      "flush.untagged_job_ms" -> ((flushJobMs - flushTaggedMs) / n, ms),
      "flush.driver_ms" -> ((flushSpans.map(_.wallMs).sum - flushJobMs) / n, ms),
      "flush.untagged_jobs" -> (flushJobs.count(_.phase.isEmpty) / n, cnt),
      "flush.planning_ms" -> (flushSpans.map(planMs).sum / n, ms),
      "mv.jobs" -> (mvJobs.size / n, cnt),
      "mv.job_ms" -> (jobMs(mvJobs) / n, ms),
      "mv.input_bytes" -> (sumStages(mvJobs)(_.inputBytes) / n, by),
      "mv.shuffle_write_bytes" -> (sumStages(mvJobs)(_.shuffleWriteBytes) / n, by),
      "Subscription.fetch_ms" -> (fetchSpans.map(_.wallMs).sum / n, ms),
      "Subscription.fetch_calls" -> (fetchSpans.size / n, cnt),
      "Subscription.rows" -> (fetchSpans.map(_.rows).sum / n, cnt),
      "Subscription.jobs" -> (jobsIn("fetch").size / n, cnt),
      "query.wall_ms" -> (queryScope.map(_.wallMs).sum / nq, ms),
      "query.jobs" -> (queryJobs.map(_._2.size).sum / nq, cnt),
      "query.planning_ms" -> (queryScope.map(planMs).sum / nq, ms),
      "query.driver_ms" -> (queryJobs.map { case (s, js) => s.wallMs - unionLen(clipped(js, s)) }.sum / nq, ms),
      "spark.jobs" -> (epochJobs.size / n, cnt),
      "spark.stages" -> (epochJobs.flatMap(stagesOf).size / n, cnt),
      "spark.tasks" -> (sumStages(epochJobs)(_.tasks.toLong) / n, cnt),
      "spark.task_run_ms" -> (sumStages(epochJobs)(_.runMs) / n, ms),
      "spark.input_bytes" -> (sumStages(epochJobs)(_.inputBytes) / n, by),
      "spark.shuffle_write_bytes" -> (sumStages(epochJobs)(_.shuffleWriteBytes) / n, by),
      "spark.max_concurrent_tasks" -> (median(perEpochConcurrency), cnt),
      "jvm.gc_ms" -> (epochs.filter(_.traced).map(_.gcMs).sum / n, ms),
      "os.processes_spawned" -> (epochs.filter(_.traced).map(_.spawned).sum / n, cnt),
      "epoch.wall_ms" -> (median(tracedWall), ms),
      "trace.overhead_ms" -> (median(tracedWall) - median(untracedWall), ms))
  }
}
