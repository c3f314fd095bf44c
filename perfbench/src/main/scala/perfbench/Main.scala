package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Segment-refresh benchmark. One process runs one workload:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --workloads <workloads.json> --work <dir>
  *                  [--scale <f>] [--corrupt-expected] [--trace-out <file>]
  *
  * It generates its inputs from the seed under `--work`, seeds the rule
  * catalog, runs one unmeasured tick and one unmeasured cycle of API ops, then
  * measures scheduler ticks and API ops for `--seconds`, checking every tick
  * and op against an independent oracle. Ticks run until they have used
  * [[TickShare]] of the seconds and number at least [[MinTicks]]; then API
  * ops run in whole cycles until all of the seconds are used and at least
  * [[MinOps]] ran, so every run measures the same mix of op kinds. Stdout
  * carries one `metric` line per metric and, last, one JSON object; the exit
  * code is 1 when any check fails.
  * `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  val TickShare = 0.6
  val MinTicks = 5
  val MinOps = 50

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = need("workload")
    val (base, cycle) = Shape.load(need("workloads"), name)
      .getOrElse { System.err.println(s"unknown workload $name"); sys.exit(2) }
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)
    val shape = base.copy(rows = math.max(1000L, (base.rows * scale).toLong),
      users = math.max(100L, (base.users * scale).toLong))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsolutePath

    val (spark, sessionS) = session(work)
    val result = try run(spark, name, shape, cycle, seed, seconds, traced, work, sessionS,
      opts.contains("corrupt-expected"), opts.get("trace-out"))
    finally spark.stop()
    val (metrics, out) = result
    System.err.println(f"perfbench: checks took ${out.seconds}%.2f s; process ${
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s")
    metrics.foreach(m => println(s"metric ${m.name} ${m.value} ${m.unit}"))
    out.notes.foreach(n => System.err.println(s"check failed: $n"))
    println(Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map(m =>
        m.name -> Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit))): _*))))
    System.out.flush()
    sys.exit(if (out.failed == 0) 0 else 1)
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case "--corrupt-expected" :: rest => parse(rest) + ("corrupt-expected" -> "1")
    case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
    case Nil => Map.empty
    case other => System.err.println(s"bad arguments: ${other.mkString(" ")}"); sys.exit(2)
  }

  /** Local session on at most four cores, with every file it writes kept
    * under `work`. Returns the session and the seconds since the JVM started.
    */
  private def session(work: String): (SparkSession, Double) = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Two warnings the engine emits by design on every catalog read and every
    // single-partition window; at ERROR they no longer drown the output.
    Seq("org.apache.spark.sql.execution.datasources.DataSource",
        "org.apache.spark.sql.execution.window").foreach { logger =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        logger, org.apache.logging.log4j.Level.ERROR)
    }
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - started) / 1e3)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear interpolation between closest ranks. */
  private def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def run(spark: SparkSession, name: String, shape: Shape, cycle: Vector[String], seed: Long,
      seconds: Double, traced: Boolean, work: String, sessionS: Double,
      corrupt: Boolean, traceOut: Option[String]): (Seq[Metric], Outcomes) = {
    val tracer = new Tracer(spark, s"$work/data/events.parquet", traced)
    val w = new Workload(spark, shape, cycle, seed, work, tracer, corrupt)

    // ---- set-up: generate, seed the catalog, one unmeasured tick and op cycle
    val (_, genSpan) = tracer.span("setup", "generate")(w.generate())
    val (_, seedSpan) = tracer.span("setup", "seed-catalog")(w.seed())
    val (warmCounts, warmTick) = w.tick()
    w.recordTick(warmCounts)
    val warmOps = Seq.fill(w.cycleLength)(w.op())
    val setupS = sessionS + genSpan.seconds + seedSpan.seconds + warmTick.seconds +
      warmOps.map(_.seconds).sum
    System.err.println(f"perfbench: set-up ${setupS}%.2f s = session $sessionS%.2f + generate " +
      f"${genSpan.seconds}%.2f + seed ${seedSpan.seconds}%.2f + warm tick ${warmTick.seconds}%.2f" +
      f" + warm ops ${warmOps.map(_.seconds).sum}%.2f")

    // ---- measured window: ticks, then API ops
    val ticks = mutable.ArrayBuffer.empty[Span]
    val written = mutable.ArrayBuffer.empty[(Int, Long)]
    var tickTime = 0.0
    do {
      val before = if (traced) Some(w.warehouseSnapshot()) else None
      val (counts, s) = w.tick()
      before.foreach { b =>
        val files = w.warehouseSnapshot().writtenSince(b)
        written += ((files.size, files.map(_._2).sum))
      }
      ticks += s
      tickTime += s.seconds
      w.recordTick(counts)
    } while (ticks.size < MinTicks || tickTime < TickShare * seconds)

    // ---- traced only: compute floor, and one untraced tick between two
    // traced ones for the tracing overhead
    val floor = if (traced) Some(w.computeFloor()) else None
    val overhead = if (!traced) 0.0 else {
      tracer.pause()
      val (c1, untracedTick) = w.tick()
      tracer.resume()
      w.recordTick(c1)
      val (c2, tracedTick) = w.tick()
      w.recordTick(c2)
      (ticks.last.seconds + tracedTick.seconds) / 2 / untracedTick.seconds - 1
    }

    val ops = mutable.ArrayBuffer.empty[Span]
    var opTime = 0.0
    while (ops.size < MinOps || tickTime + opTime < seconds ||
        ops.size % w.cycleLength != 0) {
      val o = w.op()
      ops += o
      opTime += o.seconds
    }
    w.verify()

    val tickSecs = ticks.map(_.seconds).toSeq
    val opSecs = ops.map(_.seconds).toSeq
    val (writes, reads) = ops.toSeq.partition(o => w.writeKinds(o.name))
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("tick_s", median(tickSecs), "s"),
      Metric("rules_per_s", w.activeCount * ticks.size / tickTime, "1/s"),
      Metric("op_s.p50", median(opSecs), "s"),
      Metric("op_s.p95", percentile(opSecs, 0.95), "s"),
      Metric("read_op_s.p50", median(reads.map(_.seconds)), "s"),
      Metric("write_op_s.p50", median(writes.map(_.seconds)), "s"),
      Metric("ops_per_s", ops.size / opTime, "1/s"))

    val metrics = if (!traced) endToEnd else {
      tracer.drain()
      val perTick = ticks.toSeq.map { s =>
        val jobs = tracer.jobsOf(s)
        val busy = Tracer.busySeconds(jobs)
        val store = jobs.filter(_.layer == Layer.Store)
        val engine = jobs.filter(_.layer == Layer.Engine)
        val (planningMs, inputRowsRead, inputBytesRead) = tracer.queriesIn(s)
        Map(
          "jobs" -> jobs.size.toDouble, "busy" -> busy, "gap" -> (s.seconds - busy),
          "planning" -> planningMs / 1e3,
          "storeJobs" -> store.size.toDouble, "storeBusy" -> Tracer.busySeconds(store),
          "scans" -> inputRowsRead.toDouble / w.inputRows,
          "inBytes" -> inputBytesRead.toDouble,
          "shuffle" -> engine.map(_.shuffleWriteBytes).sum.toDouble,
          "cpu" -> engine.map(_.cpuNs).sum / 1e9,
          "controlShare" -> (Tracer.busySeconds(store) + s.seconds - busy) / s.seconds)
      }
      def avg(k: String) = mean(perTick.map(_(k)))
      val (baseFloor, compoundFloor) = floor.get
      val finalSnap = w.warehouseSnapshot()
      val segmentBytes = finalSnap.files.collect {
        case (p, (size, _)) if p.startsWith("segment_output_") && !p.contains("__") => size
      }.sum
      val opJobs = ops.map(o => tracer.jobsOf(o).size).sum
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
      val computeShare = mean(baseFloor) * w.activeCount / median(tickSecs)
      val layers = Seq(
        Metric("runner.jobs_per_rule", avg("jobs") / w.activeCount, "count"),
        Metric("runner.busy_s", avg("busy"), "s"),
        Metric("runner.driver_gap_s", avg("gap"), "s"),
        Metric("sql.planning_s_per_tick", avg("planning"), "s"),
        Metric("store.jobs_per_tick", avg("storeJobs"), "count"),
        Metric("store.busy_s_per_tick", avg("storeBusy"), "s"),
        Metric("store.files_written_per_tick", mean(written.map(_._1.toDouble).toSeq), "count"),
        Metric("store.bytes_written_per_tick", mean(written.map(_._2.toDouble).toSeq), "bytes"),
        Metric("store.warehouse_bytes_per_segment_byte",
          finalSnap.bytes.toDouble / math.max(1L, segmentBytes), "ratio"),
        Metric("engine.scans_per_tick", avg("scans"), "ratio"),
        Metric("engine.input_bytes_per_tick", avg("inBytes"), "bytes"),
        Metric("engine.shuffle_write_bytes_per_tick", avg("shuffle"), "bytes"),
        Metric("engine.task_cpu_s_per_tick", avg("cpu"), "s"),
        Metric("engine.scan_agg_s_per_rule", mean(baseFloor), "s"),
        Metric("ops.compound_s_per_rule", mean(compoundFloor), "s"),
        Metric("planner.plan_ms", median(w.planMs.toSeq), "ms"),
        Metric("api.jobs_per_op", opJobs.toDouble / ops.size, "count"),
        Metric("api.catalog_load_s", median(w.catalogLoads.toSeq), "s"),
        Metric("jvm.peak_heap_mb", heapPeak / 1048576.0, "MB"),
        Metric("jvm.gc_s", gcS, "s"),
        Metric("trace.overhead_frac", overhead, "ratio"),
        Metric("regime.control_share", avg("controlShare"), "ratio"),
        Metric("regime.compute_share", computeShare, "ratio"))
      traceOut.foreach(path => TraceFile.write(path, name, seed, shape, w, tracer,
        ticks.toSeq, ops.toSeq, endToEnd, layers))
      layers
    }
    (metrics, w.out)
  }
}
