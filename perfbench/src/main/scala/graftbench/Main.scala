package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its run record as JSON:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <inputDir>
  *                   <workDir> <record.json> [spans.json]
  *
  * Phases: session start; a set-up pass that also writes every key's
  * output for the oracle comparison and runs the workload's own checks,
  * and the workload's untimed warm passes; then closed-loop timed
  * passes (one driver thread, one operation after another): `seconds` over
  * the workload's nominal pass length, at least three. With trace=1 the
  * second and third of every four timed passes are traced, so the run
  * reports the per-layer numbers of the traced passes and the tracing
  * overhead beside them. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, in, work, recordPath) = args.take(7)
    val spansPath = args.lift(7)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val workload = Workloads.all.find(_.name == wName).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $wName"))
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
      // bounded status history, so the live heap does not grow with the
      // number of passes
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Meters)
    val ctx = new Ctx(spark, in, s"$work/scratch", s"$work/out", seedS.toLong, cpus)
    val tProbe = System.nanoTime()
    val probeStart = Probes.run(spark)
    val probeNs = System.nanoTime() - tProbe

    // set-up: memoized shared inputs and the correctness outputs, then the
    // untimed warm passes
    ctx.verify = true
    val setupStats = runPass(ctx, workload, traced = false, timed = false)
    ctx.verify = false
    dumpOracle(ctx, workload)
    val verifyChecks = ctx.checks.toSeq
    val setupFailures = ctx.failed
    val setupErrors = ctx.errors.toSeq
    val warm = (1 to math.max(1, math.round(workload.warmS / workload.nominalPassS).toInt))
      .map(_ => runPass(ctx, workload, traced = false, timed = false))
    val warmStats = warm.reduce((a, b) =>
      b.copy(attempted = a.attempted + b.attempted, failed = a.failed + b.failed,
        errors = a.errors ++ b.errors))
    val setupS = (System.nanoTime() - t0 - probeNs) / 1e9

    def median(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
    val nPasses = math.max(3, math.round(seconds / workload.nominalPassS).toInt)
    // traced passes in an untraced-traced-traced-untraced cycle, so the JIT
    // ramp across the passes does not bias the tracing overhead
    val passes = (0 until nPasses).map(i =>
      runPass(ctx, workload, traced = trace && (i % 4 == 1 || i % 4 == 2)))
    val probeEnd = Probes.run(spark)
    val kernels = if (trace) Kernels.run(spark, in) else Map.empty[String, Double]
    spark.stop()

    val untraced = passes.filterNot(_.traced)
    val samples = untraced.flatMap(_.samples)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wName, "seed" -> seedS.toLong, "seconds" -> seconds,
      "cpus" -> cpus, "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "passes" -> passes.size, "traced_passes" -> passes.count(_.traced),
      "setup_s" -> setupS, "session_s" -> (tProbe - t0) / 1e9,
      "setup_pass_s" -> setupStats.wallS, "warm_pass_s" -> warm.map(_.wallS),
      "wall_s" -> typicalPass(untraced.map(_.opMs.map(_ / 1e3)),
        untraced.map(p => p.wallS - p.opMs.sum / 1e3), untraced.map(_.wallS)),
      "cpu_s" -> typicalPass(untraced.map(_.opCpu), untraced.map(_.cpuOther),
        untraced.map(_.cpuS)),
      "op_samples" -> samples.size,
      "op_p50_ms" -> Stats.quantile(samples, 0.5),
      "op_tail_q" -> Stats.tailQ(samples.size),
      "op_tail_ms" -> Stats.quantile(samples, Stats.tailQ(samples.size)),
      "peak_heap_mb" -> passes.map(_.heapMb).max,
      "stored_bytes_per_input_byte" -> Some(untraced.flatMap(_.extra.get(
        "txlog.stored_bytes_per_input_byte"))).filter(_.nonEmpty).map(median),
      "attempted" ->
        (setupStats.attempted + warmStats.attempted + passes.map(_.attempted).sum),
      "failed" -> (setupFailures + warmStats.failed + passes.map(_.failed).sum),
      "errors" ->
        (setupErrors ++ warmStats.errors ++ passes.flatMap(_.errors)).distinct.take(20),
      "checks" -> verifyChecks.map { case (n, ok, d) =>
        mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "probe" -> mutable.LinkedHashMap("start" -> probeStart, "end" -> probeEnd),
      "pass_wall_s" -> passes.map(_.wallS), "pass_traced" -> passes.map(_.traced),
      "pass_heap_mb" -> passes.map(_.heapMb),
      "op_median_ms" -> (if (untraced.map(_.opMs.size).distinct.size != 1) Nil
        else ctx.opName.toSeq.zip(untraced.map(_.opMs).transpose.map(median))
          .map { case (n, ms) => Seq(n, ms) }))
    if (trace) {
      val tr = passes.filter(_.traced)
      val layers = tr.flatMap(_.layers.keys).distinct.sorted
      val perLayer = mutable.LinkedHashMap[String, Any]()
      layers.foreach(k => perLayer(k) = median(tr.map(_.layers.getOrElse(k, 0.0))))
      kernels.foreach { case (k, v) => perLayer(k) = v }
      perLayer("trace.overhead_s") = median(tr.map(_.wallS)) - median(untraced.map(_.wallS))
      perLayer("probe.cpu_ms") = probeEnd("cpu_ms")
      perLayer("probe.mem_ms") = probeEnd("mem_ms")
      record("per_layer") = perLayer
      val spans = tr.flatMap(_.spans)
      perLayer("trace.spans") = spans.size.toDouble / tr.size
      spansPath.foreach(p => Json.write(p, spans.map(s => mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    }
    Json.write(recordPath, record)
  }

  final case class PassResult(traced: Boolean, wallS: Double, cpuS: Double,
                              heapMb: Double, opMs: Seq[Double], opCpu: Seq[Double],
                              cpuOther: Double, samples: Seq[Double],
                              attempted: Int, failed: Int, errors: Seq[String],
                              layers: Map[String, Double], spans: Seq[Span],
                              extra: Map[String, Double])

  /** A pass's total as the sum of each operation's median over the passes
    * plus the median of what lies outside the operations: one slow
    * repetition of one operation does not move it. Passes run the same
    * operations in the same order; if they did not, the median total. */
  def typicalPass(perOp: Seq[Seq[Double]], rest: Seq[Double], totals: Seq[Double]): Double =
    if (perOp.map(_.size).distinct.size == 1)
      perOp.transpose.map(Stats.quantile(_, 0.5)).sum + Stats.quantile(rest, 0.5)
    else Stats.quantile(totals, 0.5)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Allocation by threads other than executor task threads. */
  private def driverAllocBytes: Long = {
    val infos = threadBean.getThreadInfo(threadBean.getAllThreadIds)
      .filter(i => i != null && i.getThreadName.startsWith("Executor task launch"))
    threadBean.getTotalThreadAllocatedBytes -
      infos.map(i => threadBean.getThreadAllocatedBytes(i.getThreadId).max(0L)).sum
  }

  /** The live heap once full GCs stop freeing memory: Spark's cleaner
    * drops cached and checkpointed blocks only after a GC has found their
    * RDDs unreachable, and a later GC collects what it dropped. */
  private def settledHeapMb(): Double = {
    def usedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    System.gc()
    var last = usedMb
    var freed = Double.MaxValue
    var rounds = 0
    while (freed > 0.5 && rounds < 4) {
      Thread.sleep(50)
      System.gc()
      val now = usedMb
      freed = last - now
      last = now
      rounds += 1
    }
    last
  }

  /** One pass of the workload. Before a timed pass, full GCs keep one
    * pass's garbage out of the next and give the live heap it starts
    * from; untimed passes skip them. */
  def runPass(ctx: Ctx, w: Workload, traced: Boolean, timed: Boolean = true): PassResult = {
    val heapMb = if (timed) settledHeapMb() else 0.0
    ctx.samples.clear(); ctx.attempted = 0; ctx.failed = 0; ctx.errors.clear()
    ctx.opMs.clear(); ctx.opModule.clear(); ctx.opName.clear(); ctx.groupOp.clear()
    ctx.extra.clear(); ctx.lists.clear()
    ctx.passNo += 1
    Meters.tracing = traced
    val stats = Meters.startPass()
    ctx.passSpan = Meters.newId()
    Meters.currentOp = ctx.passSpan
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs
    val alloc0 = driverAllocBytes
    val t0 = System.nanoTime()
    w.pass(ctx)
    val t1 = System.nanoTime()
    BusDrain(ctx.sc)
    Meters.tracing = false
    val procCpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val wallS = (t1 - t0) / 1e9
    val driverCpuS = procCpuS - stats.cpuNs / 1e9
    val (layers, spans) =
      if (!traced) (Map.empty[String, Double], Seq.empty[Span])
      else stats.synchronized {
        stats.spans += Span(ctx.passSpan, 0L, "pass", w.name, t0, t1)
        (layerMetrics(ctx, stats, t0, t1, driverCpuS,
          (driverAllocBytes - alloc0) / 1e6, (gcMs - gc0) / 1e3), stats.spans.toSeq)
      }
    val (opCpu, cpuOther) = stats.synchronized(cpuByOp(ctx, stats))
    PassResult(traced, wallS, stats.cpuNs / 1e9, heapMb, ctx.opMs.toSeq, opCpu, cpuOther,
      ctx.samples.toSeq, ctx.attempted, ctx.failed, ctx.errors.toSeq, layers, spans,
      ctx.extra.toMap)
  }

  /** Task CPU seconds per operation index, and the CPU of jobs outside
    * any operation (caller holds `s`'s lock). */
  private def cpuByOp(ctx: Ctx, s: PassStats): (Seq[Double], Double) = {
    val per = Array.fill(ctx.opMs.size)(0.0)
    var other = 0.0
    s.cpuByGroup.foreach { case (g, ns) =>
      ctx.groupOp.get(g).filter(_ < per.length) match {
        case Some(i) => per(i) += ns / 1e9
        case None => other += ns / 1e9
      }
    }
    (per.toSeq, other)
  }

  /** The per-layer numbers of one traced pass (caller holds `s`'s lock). */
  private def layerMetrics(ctx: Ctx, s: PassStats, t0: Long, t1: Long,
                           driverCpuS: Double, driverAllocMb: Double,
                           driverGcS: Double): Map[String, Double] = {
    val layers = mutable.LinkedHashMap[String, Double]()
    val wallS = (t1 - t0) / 1e9
    val jobBusyS = SelfTime.union(s.jobSpans.values.toSeq.map(j =>
      (j._1.max(t0), j._2.min(t1))).filter(iv => iv._2 > iv._1)) / 1e9
    def put(k: String, v: Double): Unit = layers(k) = v
    put("catalyst.actions", s.actions.toDouble)
    put("catalyst.analysis_ms", s.analysisMs.toDouble)
    put("catalyst.optimizer_ms", s.optimizerMs.toDouble)
    put("catalyst.planning_ms", s.planningMs.toDouble)
    put("catalyst.plan_nodes", s.planNodes.toDouble)
    put("exec.jobs", s.jobs.toDouble)
    put("exec.stages", s.stages.toDouble)
    put("exec.tasks", s.tasks.toDouble)
    put("exec.job_busy_s", jobBusyS)
    put("exec.driver_gap_s", wallS - jobBusyS)
    put("exec.task_cpu_s", s.taskCpuNs / 1e9)
    put("exec.task_run_s", s.taskRunMs / 1e3)
    put("exec.gc_s", s.taskGcMs / 1e3)
    put("exec.shuffle_write_mb", s.shuffleWriteB / 1e6)
    put("exec.shuffle_read_mb", s.shuffleReadB / 1e6)
    put("exec.spill_mb", s.spillB / 1e6)
    put("exec.peak_task_mem_mb", s.peakTaskMemB / 1e6)
    put("driver.cpu_s", driverCpuS)
    put("driver.alloc_mb", driverAllocMb)
    put("driver.gc_s", driverGcS)
    put("streaming.queries", s.queries.toDouble)
    put("streaming.batches", s.batches.toDouble)
    put("streaming.trigger_ms_p50", Stats.quantile(s.triggerMs.toSeq, 0.5))
    put("streaming.add_batch_ms", s.addBatchMs.toDouble)
    put("streaming.query_planning_ms", s.queryPlanningMs.toDouble)
    put("streaming.wal_commit_ms", s.walCommitMs.toDouble)
    put("streaming.rows_in", s.rowsIn.toDouble)
    put("streaming.floor_ms", s.queryLife.sum - s.queryTriggerMs.values.sum)
    Workloads.layerNames.foreach(k => put(k, ctx.extra.getOrElse(k, 0.0)))
    def p50(k: String) = Stats.quantile(ctx.lists.getOrElse(k, Nil).toSeq, 0.5)
    put("pipeline.model_p50_ms", p50("pipeline.model_ms"))
    put("pipeline.parallelism",
      ctx.extra.get("pipeline.dag_wall_s").filter(_ > 0)
        .map(ctx.extra.getOrElse("pipeline.busy_s", 0.0) / _).getOrElse(0.0))
    put("txlog.commit_ms_p50", p50("txlog.commit_ms"))
    put("txlog.read_ms_p50", p50("txlog.read_ms"))
    val (opCpu, _) = cpuByOp(ctx, s)
    val byModule = ctx.opModule.indices.groupBy(ctx.opModule)
    Workloads.modules.foreach { m =>
      val ix = byModule.getOrElse(m, Nil)
      put(s"operators.$m.wall_s", ix.map(ctx.opMs).sum / 1e3)
      put(s"operators.$m.cpu_s", ix.map(opCpu).sum)
    }
    val self = SelfTime.byLayer(s.spans.toSeq)
    Seq("pass", "op", "model", "query", "job", "stage")
      .foreach(l => put(s"trace.${l}_self_s", self.getOrElse(l, 0.0)))
    layers.toMap
  }

  /** The workload keys' oracle SQL, for the DuckDB comparison. */
  private def dumpOracle(ctx: Ctx, w: Workload): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Json.write(s"${ctx.out}/oracle_sql.json",
      mutable.LinkedHashMap(w.keys.filter(sql.contains).map(k => k -> sql(k)): _*))
  }
}

/** Quantiles by linear interpolation between order statistics. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples above
    * it. */
  def tailQ(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75).find(q => n * (1 - q) >= 10).getOrElse(0.5)
}
