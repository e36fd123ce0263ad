package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.DomainSpec

/** Settings of one run (see README.md for what each workload does). */
final case class Settings(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: File, cpus: Int, clients: Int)

/** What a run prints last: the answer-check verdict, operation counts
  * and the metrics (name, value, unit). */
final case class Outcome(
    correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)])

object Workloads {
  val Names: Seq[String] = Seq("serve_point", "serve_batch", "publish_swap")

  val ValueLen = 100
  /** Answer-time limit for a get to count toward `work_per_s`. */
  val GetLimitMs = 10.0
  /** A run whose generator handed requests over later than this (p99) is
    * invalid: the generator stalled, so the run did not offer the load it
    * claims (latencies are charged from the due time either way). */
  val MaxLateP99Ms = 50.0
  /** Slices of a phase whose median figure is reported (see Stats.sliced). */
  val Slices = 10
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  val PatchUpserts = 32
  val PatchDeletes = 8

  /** A fifth of the capacity of a quiet 4-core box (about 7 000 gets/s):
    * near capacity, a burst of CPU taken by other guests grows the queue
    * and the median tenfold; far below it (500/s), every request pays an
    * idle core's wake-up. */
  val PointRate = 1500.0
  val PointLayout = Layout(DomainSpec.KvSorted, 16, 100000, ValueLen, hosts = 3, replication = 2)
  val BatchLayout = Layout(DomainSpec.KvSortedZ, 32, 200000, ValueLen, hosts = 3, replication = 2)
  /** Small batches stay on the sparse per-key path: a kvz shard here
    * holds about 6 blocks, and the reader probes key by key only while a
    * shard gets fewer keys than it has blocks (64 keys over 32 shards is
    * about 2 per shard). Large batches cross into the per-shard merge
    * scan. */
  val BatchSizes = Seq(64, 50000)
  /** Batches of each size sent alone in a traced run, to count the fs
    * reads each access path costs per key. */
  val ProbeBatches = Seq(200, 4)
  val BatchAbsent = 0.3
  val BatchGetRate = 300.0
  /** Unmeasured batch load before timing, so the batch paths are compiled. */
  val BatchWarmSeconds = 1.0
  val SwapLayout = Layout(DomainSpec.KvSorted, 64, 50000, ValueLen, hosts = 2, replication = 2)
  val SwapGetRate = 300.0
  /** Longest get stream a publish_swap phase can need. */
  val SwapMaxSeconds = 120.0
  /** Unmeasured patch cycles before timing: the first cycles after the
    * set-ups keep the JIT compilers busiest. */
  val SwapWarmCycles = 2
}

/** Runs one workload: set-up (several times, the last one kept), then
  * the measured phase, checking every answer. With tracing, the measured
  * phase runs once traced (per-layer metrics) and once untraced (the
  * tracing overhead). */
final class Bench(spark: SparkSession, sparkStats: SparkStats, s: Settings) {
  import Workloads._

  private val tracer = new Tracer
  private val ops = ArrayBuffer.empty[Op]
  private var attempted = 0L
  private var failed = 0L
  private var valid = true

  private def note(line: String): Unit = println(line)

  private val layout = s.workload match {
    case "serve_point" => PointLayout
    case "serve_batch" => BatchLayout
    case "publish_swap" => SwapLayout
  }

  // ------------------------------------------------------------ answers

  /** True when `got` is key `i`'s value in a state a reader could see
    * over the call: the accepted states before and after it. */
  private def answers(c: Cluster, i: Long, before: (Gen.State, Gen.State), got: Option[Array[Byte]]): Boolean =
    before._1.answers(c.seed, i, got) || (before._2 ne before._1) && before._2.answers(c.seed, i, got) || {
      val after = c.accepted
      (after ne before) && (after._1.answers(c.seed, i, got) || after._2.answers(c.seed, i, got))
    }

  private def checkedGet(c: Cluster)(i: Long): Load.Done = {
    val before = c.accepted
    val key = Gen.key(c.seed, i)
    Load.timed(tracer.span("ring.get")(c.client.get(key)))(answers(c, i, before, _))
  }

  private def checkedMultiGet(c: Cluster, idx: Array[Long]): Load.Done = {
    val before = c.accepted
    val keys = idx.toSeq.map(i => Gen.key(c.seed, i))
    Load.timed(tracer.span("ring.multiGet")(tracer.linked(keys, byContent = false)(c.client.multiGet(keys)))) { got =>
      got.length == idx.length && idx.indices.forall(j => answers(c, idx(j), before, got(j)))
    }
  }

  /** After a swap: every upserted key reads its new value, every deleted
    * key reads absent. */
  private def checkDelta(c: Cluster, d: Gen.Delta): Unit = {
    val idx = (d.upserts ++ d.deletes).map(_.toLong)
    val got = c.client.multiGet(idx.toSeq.map(i => Gen.key(c.seed, i)))
    val bad = idx.indices.count(j => !c.state.answers(c.seed, idx(j), got(j)))
    attempted += 1
    if (bad > 0) { failed += 1; note(s"answer check: $bad of ${idx.length} patched keys wrong after swap") }
  }

  private def count(o: Load.Open): Unit = { attempted += o.attempted; failed += o.failed }

  private def pointStream(c: Cluster, stream: Long, absent: Double, zipf: Option[Gen.Zipf]): () => Long = {
    val r = Gen.rnd(s.seed, stream)
    val n = c.layout.keys
    val present: scala.util.Random => Int = zipf match {
      case Some(z) => z.draw
      case None => _.nextInt(n)
    }
    () => Gen.pointIndex(r, n, absent, present)
  }

  private def lateness(o: Load.Open, what: String): Double = {
    val l = o.late
    if (l.p99 > MaxLateP99Ms) {
      valid = false
      note(f"INVALID: $what generator ran late, p99 ${l.p99}%.3f ms > $MaxLateP99Ms ms")
    }
    l.p99
  }

  // ------------------------------------------------------------ set-up

  private def setUp(): (Cluster, Seq[Double]) = {
    var kept: Cluster = null
    val secs = (1 to SetUps).map { j =>
      val dir = new File(s.work, s"setup-$j")
      val t0 = System.nanoTime()
      val c = new Cluster(spark, layout, s.seed, dir, tracer, ops)
      checkDelta(c, c.patchCycle(0, PatchUpserts, PatchDeletes))
      val dt = (System.nanoTime() - t0) / 1e9
      if (j < SetUps) { c.close(); Cluster.deleteTree(dir) } else kept = c
      dt
    }
    (kept, secs)
  }

  // ------------------------------------------------------------ phases

  /** One measured phase. Returns the get latencies of its open-loop
    * stream, its main work rate, and the generator lateness p99. */
  private final case class Phase(
      gets: Load.Open, workPerS: Double, cpuMsPerUnit: Double, lateP99: Double, extra: Seq[String])

  /** Open-loop senders: enough to absorb a stall without queueing behind
    * it, or exactly one when a single client is asked for (then the
    * request sequence, and every count it causes, repeats exactly). */
  private def openWorkers: Int = if (s.clients == 1) 1 else 2 * s.clients

  private def servePoint(c: Cluster, seconds: Double, capacity: Boolean): Phase = {
    val zipf = new Gen.Zipf(c.layout.keys, 0.99)
    // one unmeasured second of gets first
    Load.open(PointRate, PointRate.toInt, openWorkers, pointStream(c, 11, 0.1, Some(zipf)))(checkedGet(c))
    val n = (PointRate * seconds / 2).toInt
    val gets = Load.open(PointRate, n, openWorkers, pointStream(c, 12, 0.1, Some(zipf)))(checkedGet(c))
    count(gets)
    val late = lateness(gets, "open-loop get")
    if (!capacity) Phase(gets, 0.0, 0.0, late, Nil)
    else {
      val streams = (0 until s.clients).map(t => pointStream(c, 100 + t, 0.1, Some(zipf)))
      val cpu0 = Bench.workCpuNanos()
      val cap = Load.closed(s.clients, seconds / 2, GetLimitMs)(t => (1L, checkedGet(c)(streams(t)())))
      val cpuMs = (Bench.workCpuNanos() - cpu0) / 1e6 / math.max(1L, cap.done)
      attempted += cap.done; failed += cap.failed
      val perS = cap.slicedGoodPerS(Slices)
      Phase(gets, perS, cpuMs, late, Seq(
        f"cpu_ms_per_get $cpuMs%.4f ms (process CPU less the JIT compilers', over the capacity phase)",
        f"get_per_s ${perS}%.1f gets/s (median of $Slices slices; whole phase ${cap.good / cap.seconds}%.1f; " +
          f"n=${cap.done}, ${s.clients} clients, limit $GetLimitMs ms)"))
    }
  }

  private def serveBatch(c: Cluster, seconds: Double): Phase = {
    val streams = BatchSizes.indices.map(t => Gen.rnd(s.seed, 200 + t))
    def batches(secs: Double) = Load.closed(BatchSizes.size, secs, Double.MaxValue) { t =>
      val idx = Gen.batch(streams(t), c.layout.keys, BatchSizes(t), BatchAbsent)
      (idx.length.toLong, checkedMultiGet(c, idx))
    }
    val warm = batches(BatchWarmSeconds)
    attempted += warm.done; failed += warm.failed
    var gets: Load.Open = null
    val bg = new Thread(() => {
      gets = Load.open(BatchGetRate, (BatchGetRate * seconds).toInt, 2,
        pointStream(c, 13, BatchAbsent, None))(checkedGet(c))
    }, "batch-get-stream")
    bg.start()
    val cpu0 = Bench.workCpuNanos()
    val res = batches(seconds)
    val cpuMs = (Bench.workCpuNanos() - cpu0) / 1e6 / math.max(1L, res.units)
    bg.join()
    count(gets)
    attempted += res.done; failed += res.failed
    val late = lateness(gets, "get")
    val small = Stats.summarize(res.latMsByThread(0))
    val big = Stats.summarize(res.latMsByThread(1))
    val perS = res.units / res.seconds
    Phase(gets, perS, cpuMs, late, Seq(
      f"cpu_ms_per_key $cpuMs%.6f ms (process CPU less the JIT compilers', over the batch phase)",
      f"multiget_p50_ms ${small.p50}%.3f ms (n=${small.n}, ${BatchSizes(0)}-key batches)",
      f"multiget_p99_ms ${small.p99}%.3f ms (n=${small.n}${if (small.p99Backed) "" else ", under 10 beyond"})",
      f"multiget_${BatchSizes(1)}_p50_ms ${big.p50}%.3f ms (n=${big.n})",
      f"multiget_keys_per_s ${perS}%.1f keys/s (n=${res.done} batches)"))
  }

  /** fs preads per key of each batch size sent alone, one batch at a
    * time. The sparse path reads about one block per present key; the
    * merge scan reads each shard's blocks once, shared by that shard's
    * keys. */
  private def batchProbe(c: Cluster): Seq[Double] =
    BatchSizes.indices.map { t =>
      val r = Gen.rnd(s.seed, 300 + t)
      val fs0 = CountingFs.snapshot()
      val keys0 = c.served.values.map(_.keys.sum()).sum
      (1 to ProbeBatches(t)).foreach { _ =>
        val d = checkedMultiGet(c, Gen.batch(r, c.layout.keys, BatchSizes(t), BatchAbsent))
        attempted += 1
        if (!d.ok) failed += 1
      }
      val keys = c.served.values.map(_.keys.sum()).sum - keys0
      val perKey = (CountingFs.snapshot() - fs0).preads.toDouble / math.max(1L, keys)
      note(f"${BatchSizes(t)}-key batches alone: $perKey%.4f fs preads per key " +
        s"(${ProbeBatches(t)} batches; sparse path: about one per present key; merge scan: " +
        "each shard's blocks, shared by that shard's keys)")
      perKey
    }

  /** Patch cycles for `seconds` (whole cycles, at least one), with the
    * get stream running exactly as long, so the stream's CPU per cycle
    * does not depend on how many cycles fit. */
  private def publishSwap(c: Cluster, seconds: Double, firstCycle: Int): (Phase, Int) = {
    @volatile var cyclesDone = false
    var gets: Load.Open = null
    val bg = new Thread(() => {
      gets = Load.open(SwapGetRate, (SwapGetRate * SwapMaxSeconds).toInt, 1,
        pointStream(c, 14, 0.1, None), () => cyclesDone)(checkedGet(c))
    }, "swap-get-stream")
    val t0 = System.nanoTime()
    val cpu0 = Bench.workCpuNanos()
    bg.start()
    var cycle = firstCycle
    val cycleSecs = ArrayBuffer.empty[Double]
    while (cycle == firstCycle || System.nanoTime() - t0 < (seconds * 1e9).toLong) {
      val c0 = System.nanoTime()
      checkDelta(c, c.patchCycle(cycle, PatchUpserts, PatchDeletes))
      cycleSecs += (System.nanoTime() - c0) / 1e9
      cycle += 1
    }
    cyclesDone = true
    bg.join()
    val cpuMs = (Bench.workCpuNanos() - cpu0) / 1e6 / cycleSecs.size
    count(gets)
    val late = lateness(gets, "get")
    val median = Stats.median(cycleSecs.toSeq)
    (Phase(gets, 1.0 / median, cpuMs, late, Seq(
      f"cpu_ms_per_cycle $cpuMs%.1f ms (process CPU less the JIT compilers', over the cycle phase)",
      f"cycle_s $median%.3f s (median of ${cycleSecs.size} patch + localize + refresh cycles)")), cycle)
  }

  // ------------------------------------------------------------ run

  def run(): Outcome = {
    tracer.enabled = s.trace
    CountingFs.timed = s.trace
    val (c, setupSecs) = setUp()
    try {
      if (s.workload == "serve_point") c.closeHost(c.hosts.last)
      val measure: Boolean => Phase = s.workload match {
        case "serve_point" => capacity => servePoint(c, s.seconds, capacity)
        case "serve_batch" => _ => serveBatch(c, s.seconds)
        case "publish_swap" =>
          (1 to SwapWarmCycles).foreach(k => checkDelta(c, c.patchCycle(k, PatchUpserts, PatchDeletes)))
          var next = SwapWarmCycles + 1
          _ => { val (p, n) = publishSwap(c, s.seconds, next); next = n; p }
      }
      if (!s.trace) {
        val steal0 = Bench.cpuTicks()
        val jit0 = Bench.jitCpuNanos()
        val p = measure(true)
        val steal1 = Bench.cpuTicks()
        note(f"cpu_steal_frac ${(steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)}%.3f " +
          "(share of the box's CPU time taken by other guests during the measured phase)")
        note(f"jit_cpu_ms ${(Bench.jitCpuNanos() - jit0) / 1e6}%.0f ms (CPU of the JIT compiler threads " +
          "during the measured phase, left out of cpu_ms_per_unit)")
        endToEnd(c, setupSecs, p)
      }
      else perLayer(c, setupSecs, measure)
    } finally c.close()
  }

  /** Heap still reachable with the ring serving, after full collections. */
  private def liveHeapMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** publish_swap's operator pipelines, in its traced run after the
    * measured phases; none on the serving workloads. */
  private def pipelines(): Seq[Pipelines.Run] =
    if (s.workload != "publish_swap") Nil
    else {
      val runs = Pipelines.run(spark, s.seed, new File(s.work, "pipelines"))
      attempted += runs.size
      failed += runs.count(!_.ok)
      Pipelines.Names.foreach { n =>
        val rs = runs.filter(_.name == n)
        note(f"$n ${rs.map(r => f"${r.seconds}%.3f").mkString(" s, ")} s (${rs.size} runs, the last measured; " +
          s"${rs.last.rows} pairs)")
      }
      runs
    }

  private def opsOf(kind: String): Seq[Op] = ops.filter(_.kind == kind).toSeq
  private def medianMs(kind: String): Double = {
    val xs = opsOf(kind).map(_.nanos / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  private def medianOf(kind: String)(f: Op => Double): Double = {
    val xs = opsOf(kind).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  private def outcome(metrics: Seq[(String, Double, String)]): Outcome =
    Outcome(valid && failed == 0, attempted, failed, metrics)

  private def endToEnd(c: Cluster, setupSecs: Seq[Double], p: Phase): Outcome = {
    val g = p.gets.lat
    val setup = Stats.median(setupSecs)
    note(f"setup_s $setup%.3f s (median of ${setupSecs.size}: ${setupSecs.map(x => f"$x%.2f").mkString(", ")})")
    val p50 = Stats.sliced(p.gets.latMs, Slices, 0.5)
    note(f"get_p50_ms $p50%.4f ms (median of $Slices slices' medians; whole stream ${g.p50}%.4f; n=${g.n})")
    note(f"get_p90_ms ${g.p90}%.4f ms (n=${g.n})")
    note(f"get_p99_ms ${g.p99}%.4f ms (n=${g.n}${if (g.p99Backed) "" else ", under 10 beyond"})")
    note(f"generator_late_p99_ms ${p.lateP99}%.4f ms")
    p.extra.foreach(note)
    if (s.workload == "publish_swap") {
      note(f"publish_s ${medianMs("write") / 1e3}%.3f s (n=${opsOf("write").size})")
      note(f"patch_s ${medianMs("patch") / 1e3}%.3f s (n=${opsOf("patch").size})")
      val swaps = opsOf("localize").zip(opsOf("refresh")).map { case (a, b) => (a.nanos + b.nanos) / 1e9 }
      note(f"swap_s ${Stats.median(swaps)}%.3f s (n=${swaps.size} host swaps)")
      note(f"stored_bytes_per_user_byte ${storedRatio(c)}%.3f")
    }
    note(f"failed_frac ${failed.toDouble / math.max(attempted, 1L)}%.6f (failed $failed of $attempted)")
    note(f"peak_rss_mb $peakRssMb%.1f MB")
    note(f"heap_live_mb $liveHeapMb%.1f MB")
    outcome(Seq(
      ("setup_s", setup, "s"),
      ("get_p50_ms", p50, "ms"),
      ("work_per_s", p.workPerS, "1/s"),
      ("cpu_ms_per_unit", p.cpuMsPerUnit, "ms")))
  }

  private def storedRatio(c: Cluster): Double = {
    val present = (0 until c.layout.keys).count(c.state.present)
    c.storedBytes.toDouble / (present.toLong * (Gen.KeyLen + c.layout.valueLen))
  }

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private final case class Counters(
      fs: CountingFs.Counts, remoteCalls: Long, remoteFailures: Long,
      readerCalls: Long, readerKeys: Long, readerAbsent: Long, dials: Long,
      gcMs: Long, gcCount: Long, jitMs: Long)

  private def counters(c: Cluster): Counters = {
    val (gcMs, gcCount) = gcTotals
    Counters(
      CountingFs.snapshot(),
      c.stubs.values.map(_.calls.sum()).sum, c.stubs.values.map(_.failures.sum()).sum,
      c.served.values.map(_.calls.sum()).sum, c.served.values.map(_.keys.sum()).sum,
      c.served.values.map(_.absent.sum()).sum, c.serverCounter("connections.accepted"),
      gcMs, gcCount, Bench.jitCpuNanos() / 1000000L)
  }

  private def perLayer(c: Cluster, setupSecs: Seq[Double], measure: Boolean => Phase): Outcome = {
    val from = System.nanoTime()
    val c0 = counters(c)
    val traced = measure(false)
    val c1 = counters(c)
    val spans = tracer.recorded.filter(_.start >= from)
    tracer.enabled = false
    CountingFs.timed = false
    val plain = measure(false)
    val overhead = traced.gets.lat.p50 / plain.gets.lat.p50 - 1.0
    val probe = if (s.workload == "serve_batch") batchProbe(c) else Seq(0.0, 0.0)
    val pipes = pipelines()
    sparkStats.quiesce()

    val layers = Trace.byLayer(spans)
    def row(l: String) = layers.getOrElse(l, Trace.Row(0L, 0L, 0L))
    def per(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ring = row("ring")
    val remote = row("remote")
    val readerSpans = spans.filter(sp => sp.name == "reader.get" || sp.name == "reader.multiGet")
    val readerSelf = Trace.selfTimes(spans)
    val readerSelfMs = per(readerSpans.map(sp => readerSelf(sp.id)).sum / 1e6, readerSpans.size)
    val fs = c1.fs - c0.fs
    val keys = (c1.readerKeys - c0.readerKeys).toDouble
    val remoteCalls = (c1.remoteCalls - c0.remoteCalls).toDouble
    val patches = opsOf("patch")
    val work = patches.map(o => sparkStats.within(o.startMs, o.endMs))
    def sparkMedian(f: sparkStats.Work => Double) = if (work.isEmpty) 0.0 else Stats.median(work.map(f))

    tracer.writeTo(new File(s.work, s"trace-${s.workload}-${s.seed}.jsonl").toPath)
    note(f"tracing overhead ${overhead * 100}%.1f%% on get p50 (traced ${traced.gets.lat.p50}%.4f ms, " +
      f"untraced ${plain.gets.lat.p50}%.4f ms); ${spans.size} spans")

    outcome(Seq(
      ("ring.calls", ring.calls.toDouble, "count"),
      ("ring.self_ms", per(ring.selfNs / 1e6, ring.calls), "ms"),
      ("ring.failovers_per_call", per(c1.remoteFailures - c0.remoteFailures, ring.calls), "ratio"),
      ("ring.hosts_per_call", per(remoteCalls, ring.calls), "ratio"),
      ("remote.calls", remoteCalls, "count"),
      ("remote.wire_ms", per(remote.selfNs / 1e6, remote.calls), "ms"),
      ("remote.dials_per_call", per(c1.dials - c0.dials, remoteCalls), "ratio"),
      ("reader.calls", (c1.readerCalls - c0.readerCalls).toDouble, "count"),
      ("reader.keys", keys, "count"),
      ("reader.self_ms", readerSelfMs, "ms"),
      ("reader.absent_frac", per(c1.readerAbsent - c0.readerAbsent, keys), "ratio"),
      ("reader.refresh_ms", medianMs("refresh"), "ms"),
      ("fs.opens", fs.opens.toDouble, "count"),
      ("fs.preads_per_key", per(fs.preads, keys), "count/key"),
      ("fs.pread_bytes_per_key", per(fs.preadBytes, keys), "B/key"),
      ("fs.seq_bytes_per_key", per(fs.seqBytes, keys), "B/key"),
      ("fs.ms", fs.readNanos / 1e6, "ms"),
      ("fs.small_batch_preads_per_key", probe(0), "count/key"),
      ("fs.large_batch_preads_per_key", probe(1), "count/key"),
      ("publish.write_ms", medianMs("write"), "ms"),
      ("publish.patch_ms", medianMs("patch"), "ms"),
      ("publish.shards_rewritten", medianOf("patch")(_.shardsRewritten), "count"),
      ("publish.shards_carried", medianOf("patch")(_.shardsCarried), "count"),
      ("publish.bytes_written", medianOf("patch")(_.bytesWritten), "B"),
      ("publish.stored_bytes_per_user_byte", storedRatio(c), "ratio"),
      ("localize.ms", medianMs("localize"), "ms"),
      ("localize.bytes_pulled", medianOf("localize")(_.bytesWritten), "B"),
      ("localize.shards_pulled", medianOf("localize")(_.shardsPulled), "count"),
      ("localize.shards_reused", medianOf("localize")(_.shardsReused), "count"),
      ("spark.jobs", sparkMedian(_.jobs), "count"),
      ("spark.stages", sparkMedian(_.stages), "count"),
      ("spark.tasks", sparkMedian(_.tasks), "count"),
      ("spark.shuffle_read_records", sparkMedian(_.shuffleReadRecords), "count"),
      ("spark.shuffle_write_bytes", sparkMedian(_.shuffleWriteBytes), "B"),
      ("spark.spill_bytes", sparkMedian(_.spillBytes), "B"),
      ("spark.executor_cpu_ms", sparkMedian(_.executorCpuMs), "ms"),
      ("spark.exchanges", sparkMedian(_.exchanges), "count"),
      ("spark.exchanges_reused", sparkMedian(_.exchangesReused), "count")) ++
      pipelineMetrics(pipes) ++ Seq(
      ("jvm.gc_ms", (c1.gcMs - c0.gcMs).toDouble, "ms"),
      ("jvm.gc_count", (c1.gcCount - c0.gcCount).toDouble, "count"),
      ("jvm.jit_ms", (c1.jitMs - c0.jitMs).toDouble, "ms"),
      ("jvm.heap_live_mb", liveHeapMb, "MB"),
      ("jvm.peak_rss_mb", peakRssMb, "MB"),
      ("loadgen.late_p99_ms", traced.lateP99, "ms"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.overhead_frac", overhead, "ratio")))
  }

  /** Per pipeline: the wall time of its last (warm) run and the Spark
    * work that run's jobs did. */
  private def pipelineMetrics(pipes: Seq[Pipelines.Run]): Seq[(String, Double, String)] =
    Pipelines.Names.flatMap { n =>
      val last = pipes.filter(_.name == n).lastOption
      val work = last.map(r => sparkStats.within(r.startMs, r.endMs))
      def of(f: sparkStats.Work => Double) = work.map(f).getOrElse(0.0)
      Seq(
        (s"spark.$n.wall_s", last.map(_.seconds).getOrElse(0.0), "s"),
        (s"spark.$n.jobs", of(_.jobs), "count"),
        (s"spark.$n.stages", of(_.stages), "count"),
        (s"spark.$n.tasks", of(_.tasks), "count"),
        (s"spark.$n.shuffle_read_records", of(_.shuffleReadRecords), "count"),
        (s"spark.$n.shuffle_write_bytes", of(_.shuffleWriteBytes), "B"),
        (s"spark.$n.spill_bytes", of(_.spillBytes), "B"),
        (s"spark.$n.executor_cpu_ms", of(_.executorCpuMs), "ms"),
        (s"spark.$n.exchanges_reused", of(_.exchangesReused), "count"))
    }
}

object Bench {
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads (Linux: from /proc; 0 where it
    * cannot be read). `run.py` keeps those threads alive for the whole
    * run, so none takes its CPU time with it when it exits. */
  def jitCpuNanos(): Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath), "UTF-8")
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath), "UTF-8")
          // the fields after the name: state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * Bench.NanosPerTick
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum

  /** Linux's USER_HZ: /proc counts CPU time in hundredths of a second. */
  val NanosPerTick = 10000000L

  /** Process CPU time less the JIT compilers': the CPU the work itself
    * took. The compilers run hardest while the measured phases run (a
    * Spark patch makes new classes to compile), and how much of their
    * work lands in one phase varies from run to run. */
  def workCpuNanos(): Long = cpuNanos() - jitCpuNanos()

  /** (steal, total) CPU ticks of the whole box, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }
}
