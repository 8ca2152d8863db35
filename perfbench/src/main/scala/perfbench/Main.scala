package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line of the harness (run.py fills in the paths). */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    cpus: Int = Runtime.getRuntime.availableProcessors(),
    root: String = ".",
    data: String = "",
    work: String = "",
    expected: String = "",
    spans: String = "",
    dumpOracle: String = "")

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case Seq(k, v, rest @ _*) =>
      val o = parse(rest)
      k match {
        case "--workload" => o.copy(workload = v)
        case "--seed" => o.copy(seed = v.toLong)
        case "--seconds" => o.copy(seconds = v.toDouble)
        case "--trace" => o.copy(trace = v == "1")
        case "--root" => o.copy(root = v)
        case "--data" => o.copy(data = v)
        case "--work" => o.copy(work = v)
        case "--expected" => o.copy(expected = v)
        case "--spans" => o.copy(spans = v)
        case "--dump-oracle" => o.copy(dumpOracle = v)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    case Seq(k) => throw new IllegalArgumentException(s"option $k needs a value")
  }
}

/** One timed operation: the layer and entry it ran, its latency, whether
  * it was correct, the items it processed, and its per-layer readings
  * (seconds, bytes or counts). */
final case class OpResult(module: String, name: String, latency: Double, ok: Boolean, items: Long,
    layers: Map[String, Double])

/** One pass over a workload's operation list, with the executor CPU it
  * used and its wall time, the harness's output checks left out. */
final case class Pass(ops: Seq[OpResult], cpuS: Double, wallS: Double)

trait Workload {
  /** Prepare inputs on a fresh session and run one untimed warm-up op. */
  def setUp(ctx: Ctx): Unit
  /** Untimed output check; returns (checks attempted, checks failed). */
  def check(ctx: Ctx): (Int, Int)
  def pass(ctx: Ctx, passNo: Int): Seq[OpResult]
  /** Passes a run makes even when `--seconds` has run out. */
  def minPasses: Int = 1
  def close(): Unit = ()
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap still in use after full collections, in MiB: what the program
    * keeps alive, plus the harness's inputs, which are fixed per seed.
    * A collection lets Spark's ContextCleaner drop the broadcasts and
    * shuffles it finds unreachable, which frees more on the next one, so
    * this collects until the reading settles. */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = collect()
    var settled = false
    var round = 1
    while (!settled && round < 8) {
      Thread.sleep(250)
      val now = collect()
      settled = math.abs(now - last) < 1.0
      last = now
      round += 1
    }
    last
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The host-speed probe: a fixed piece of JVM work that does not touch
  * the program. Every thread of `threads` sorts its own copy of the same
  * half million random longs (4 MiB), all at once, into arrays allocated
  * once; the probe's time is the wall time of the whole. The harness
  * probes after every operation, outside its timer, and scales the timed
  * end-to-end metrics by [[ReferenceS]] over the run's median probe time,
  * so that they read as on a host where the probe takes [[ReferenceS]]. */
object HostSpeed {
  val ReferenceS = 0.08

  private val source: Array[Long] = {
    val r = new java.util.SplittableRandom(42L)
    Array.fill(1 << 19)(r.nextLong())
  }
  private var scratch: Array[Array[Long]] = Array.empty
  val samples = mutable.ArrayBuffer.empty[Double]

  def probe(threads: Int): Unit = {
    if (scratch.length != threads) scratch = Array.fill(threads)(new Array[Long](source.length))
    val t0 = System.nanoTime()
    val ts = scratch.map { a =>
      new Thread(() => {
        System.arraycopy(source, 0, a, 0, source.length)
        java.util.Arrays.sort(a)
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    samples += (System.nanoTime() - t0) / 1e9
  }

  /** The run's median probe time, in seconds. */
  def medianS(): Double = Stats.median(samples.toSeq)
}

/** The per-layer report of a traced run: every metric named in
  * BENCHMARK.json, zero where the workload does not reach the layer. */
object Layers {
  val Modules: Seq[String] = Seq("operators", "llm", "streaming")

  def apply(ctx: Ctx, traced: Seq[OpResult], untraced: Seq[Pass], coldSetUpS: Double,
      probeS: Double)
      : Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit =
      out += ((name, if (v.isNaN || v.isInfinite) 0.0 else v, unit))
    def mean(ops: Seq[OpResult], key: String): Double =
      if (ops.isEmpty) 0.0 else ops.map(_.layers.getOrElse(key, 0.0)).sum / ops.size
    def fold(key: String): Fold = ctx.work.foldOf(key).getOrElse(new Fold)
    def per(n: Int)(v: Double): Double = if (n == 0) 0.0 else v / n
    val MB = 1024.0 * 1024.0

    val ingest = traced.filter(_.module == "wildweb")
    val perInv = per(ingest.size) _
    put("sources.fetch_s", mean(ingest, "sources.fetch_s"), "s")
    put("sources.fetch_bytes", mean(ingest, "sources.fetch_bytes"), "bytes")
    put("sources.fetch_quarantined", mean(ingest, "sources.fetch_quarantined"), "count")
    put("sources.submit_s", mean(ingest, "sources.submit_s"), "s")
    put("sources.submit_assemble_s", mean(ingest, "sources.submit_assemble_s"), "s")
    put("sources.submit_bytes", mean(ingest, "sources.submit_bytes"), "bytes")
    put("wildweb.run_s", mean(ingest, "wildweb.run_s"), "s")
    put("wildweb.run_jobs", perInv(fold("wildweb:run").jobs.toDouble), "count")
    put("wildweb.run_cpu_s", perInv(fold("wildweb:run").cpuNs / 1e9), "s")
    put("wildweb.decode_guard_s", perInv(fold("wildweb:run@count").jobWallMs / 1e3), "s")
    put("wildweb.features_ckpt_s",
      perInv(fold("wildweb:run@localCheckpoint").jobWallMs / 1e3), "s")
    put("wildweb.kept_ratio", mean(ingest, "wildweb.kept") / mean(ingest, "wildweb.decoded"), "ratio")
    put("jvm.gc_s", mean(traced, "jvm.gc_s"), "s")
    put("jvm.peak_rss_mb", Jvm.peakRssMb(), "MB")
    put("jvm.cold_setup_s", coldSetUpS, "s")
    put("host.probe_s", probeS, "s")
    put("executor_cpu_s",
      if (untraced.isEmpty) 0.0 else Stats.median(untraced.map(_.cpuS)), "s")

    for (m <- Modules) {
      val ops = traced.filter(_.module == m)
      val perOp = per(ops.size) _
      val c = fold(s"$m:construct")
      val a = fold(s"$m:action")
      put(s"$m.construct_s", mean(ops, "construct_s"), "s")
      put(s"$m.construct_jobs", perOp(c.jobs.toDouble), "count")
      put(s"$m.construct_cpu_s", perOp(c.cpuNs / 1e9), "s")
      put(s"$m.action_s", mean(ops, "action_s"), "s")
      put(s"$m.action_jobs", perOp(a.jobs.toDouble), "count")
      put(s"$m.action_stages", perOp(a.stages.toDouble), "count")
      put(s"$m.action_tasks", perOp(a.tasks.toDouble), "count")
      put(s"$m.action_cpu_s", perOp(a.cpuNs / 1e9), "s")
      put(s"$m.shuffle_read_mb", perOp((c.shuffleReadB + a.shuffleReadB) / MB), "MB")
      put(s"$m.shuffle_write_mb", perOp((c.shuffleWriteB + a.shuffleWriteB) / MB), "MB")
      put(s"$m.spill_mb", perOp((c.spillB + a.spillB) / MB), "MB")
      put(s"$m.gc_s", perOp((c.gcMs + a.gcMs) / 1e3), "s")
      put(s"$m.straggler_s", perOp((c.stragglerMs + a.stragglerMs) / 1e3), "s")
    }

    val p = ctx.plans
    val perAny = per(traced.size) _
    put("plans.analysis_s", perAny(p.analysisMs / 1e3), "s")
    put("plans.optimization_s", perAny(p.optimizationMs / 1e3), "s")
    put("plans.planning_s", perAny(p.planningMs / 1e3), "s")
    put("plans.exchanges", perAny(p.exchanges.toDouble), "count")
    put("plans.single_partition_exchanges", perAny(p.singlePartitionExchanges.toDouble), "count")

    for (k <- Seq("session.persisted_rdds_left", "session.temp_views_left",
        "streaming.tmp_dirs_left"))
      put(k, traced.map(_.layers.getOrElse(k, 0.0)).maxOption.getOrElse(0.0), "count")

    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else 100 * (Stats.median(traced.map(_.latency)) /
        Stats.median(untraced.flatMap(_.ops).map(_.latency)) - 1)
    put("trace.overhead_pct", overhead, "%")
    out.toSeq
  }
}

/** Harness entry point. Prints one JSON line last:
  * {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
  * metrics are the end-to-end ones, with --trace 1 the per-layer ones. */
object Main {
  val WarmSetUps = 3

  def workload(name: String): Workload = name match {
    case "wildweb_ingest" => new Ingest(centers = 48, perCenter = 2000)
    // three passes of 14 entries keep op_tail_s at p75 (>= 40 samples)
    case "query_mix" => new Mix(Mix.Query, minPasses = 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val startUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = Opts.parse(args.toSeq)
    if (opts.dumpOracle.nonEmpty) { dumpOracle(opts.dumpOracle); return }
    val wl = workload(opts.workload)
    val ctx = new Ctx(opts)
    try {
      def setUp(): Double = {
        val t0 = System.nanoTime()
        ctx.build()
        wl.setUp(ctx)
        (System.nanoTime() - t0) / 1e9
      }
      // the cold set-up counts from process start; the set-ups after it
      // run in a JVM its warm-up operation has warmed. The output check
      // runs on the last session they build, the one the timed section
      // uses, so that its first pass is not the session's first either.
      setUp()
      val coldSetUp = startUptimeS + (System.nanoTime() - startNs) / 1e9
      val warmSetUps = Seq.fill(WarmSetUps)(setUp())
      val checkT0 = System.nanoTime()
      val (checked, checkFailed) = wl.check(ctx)
      val checkS = (System.nanoTime() - checkT0) / 1e9

      val untraced = mutable.ArrayBuffer.empty[Pass]
      val traced = mutable.ArrayBuffer.empty[Pass]
      val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
      var passNo = 0
      while (System.nanoTime() < deadline || passNo < wl.minPasses ||
          (opts.trace && traced.isEmpty)) {
        val tracedPass = opts.trace && passNo % 2 == 1
        ctx.setFolding(tracedPass)
        val cpu0 = ctx.work.cpuNs.get
        val unmetered0 = ctx.unmeteredNs
        val t0 = System.nanoTime()
        val ops = wl.pass(ctx, passNo)
        ctx.drain()
        val wallNs = System.nanoTime() - t0 - (ctx.unmeteredNs - unmetered0)
        (if (tracedPass) traced else untraced) +=
          Pass(ops, (ctx.work.cpuNs.get - cpu0) / 1e9, wallNs / 1e9)
        passNo += 1
      }
      ctx.setFolding(false)
      val retainedMb = if (opts.trace) 0.0 else Jvm.retainedHeapMb()

      val all = (untraced ++ traced).flatMap(_.ops)
      val failed = checkFailed + all.count(!_.ok)
      val attempted = checked + all.size
      val ops = untraced.flatMap(_.ops).toSeq
      val lat = ops.map(_.latency)
      val (tailLabel, tail) = Stats.tail(lat)
      System.err.println(f"[perfbench] ${opts.workload} seed ${opts.seed}: ${untraced.size} untraced " +
        f"and ${traced.size} traced passes, ${lat.size} timed ops, op_tail_s is $tailLabel, " +
        f"failed_ratio ${failed.toDouble / attempted}%.4f, set-ups $coldSetUp ${warmSetUps.mkString(" ")}, " +
        f"check $checkS%.1f s, unmetered ${ctx.unmeteredNs / 1e9}%.1f s, pass walls ${(untraced ++ traced).map(_.wallS).mkString(" ")}")
      val probeS = HostSpeed.medianS()
      System.err.println(f"[perfbench] host-speed probe: median $probeS%.5f s of ${HostSpeed.samples.size} " +
        f"(the reference is ${HostSpeed.ReferenceS} s); unscaled op p50 ${Stats.median(lat)}")
      System.err.println(s"[perfbench] op latencies: " +
        ops.map(o => f"${o.name}=${o.latency}%.3f").mkString(" "))
      val metrics =
        if (opts.trace) Layers(ctx, traced.flatMap(_.ops).toSeq, untraced.toSeq, coldSetUp, probeS)
        else endToEnd(warmSetUps, untraced.toSeq, retainedMb, probeS)
      if (opts.spans.nonEmpty) ctx.writeSpans(opts.spans)
      println(resultLine(failed == 0, attempted, failed, metrics))
    } finally {
      wl.close()
      if (ctx.spark != null) ctx.spark.stop()
    }
  }

  /** The end-to-end metrics of an untraced run. `setup_s` is the median
    * of the warm set-ups (the first, cold one, counted from process start,
    * is the per-layer `jvm.cold_setup_s`); `wall_s` is the timed section's
    * wall time per pass; `retained_heap_mb` is read after the timed
    * section. Times are scaled to the reference host speed: by
    * [[HostSpeed.ReferenceS]] over the run's median probe time `probeS`. */
  def endToEnd(warmSetUps: Seq[Double], untraced: Seq[Pass],
      retainedMb: Double, probeS: Double): Seq[(String, Double, String)] = {
    val ops = untraced.flatMap(_.ops)
    val lat = ops.map(_.latency)
    val scale = HostSpeed.ReferenceS / probeS
    Seq(
      ("setup_s", Stats.median(warmSetUps) * scale, "s"),
      ("wall_s", untraced.map(_.wallS).sum / untraced.size * scale, "s"),
      ("op_p50_s", Stats.median(lat) * scale, "s"),
      ("op_tail_s", Stats.tail(lat)._2 * scale, "s"),
      ("items_per_s", ops.map(_.items).sum / lat.sum / scale, "1/s"),
      ("retained_heap_mb", retainedMb, "MB"))
  }

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""",
        ",", "}}")

  /** Write {entry: oracle SQL or null} for every entry query_mix runs. */
  private def dumpOracle(path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = mapper.createObjectNode()
    for (n <- Mix.Query.sorted) {
      val e = graft.SparkEntry.all.find(_.name == n).get
      e.oracle match {
        case Some(sql) => out.put(n, sql)
        case None => out.putNull(n)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), out)
  }
}
