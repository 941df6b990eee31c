package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Relational, Snapshot}
import graft.pipeline._
import graft.sources.{Tables, TxLogFormat}

/** State of one pass, shared by the workload code and [[Main]]. */
final class Ctx(val spark: SparkSession, val in: String, val work: String,
                val out: String, val seed: Long, val cpus: Int) {
  val sc = spark.sparkContext
  /** Set on the set-up pass: outputs are written and checked, not timed. */
  var verify = false
  var passSpan = 0L
  var passNo = 0

  val samples = mutable.ArrayBuffer[Double]()     // operation latencies, ms
  var attempted, failed = 0
  val opMs = mutable.ArrayBuffer[Double]()        // the pass's i-th operation, ms
  val opModule = mutable.ArrayBuffer[String]()    // its SURVEY module
  val opName = mutable.ArrayBuffer[String]()
  val groupOp = mutable.Map[String, Int]()        // job group -> operation index
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val errors = mutable.ArrayBuffer[String]()
  val extra = mutable.Map[String, Double]()       // layer counters of the pass
  val lists = mutable.Map[String, mutable.ArrayBuffer[Double]]() // layer samples

  def add(k: String, v: Double): Unit = extra(k) = extra.getOrElse(k, 0.0) + v
  def sample(k: String, v: Double): Unit =
    lists.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += v

  /** Runs one operation on the driver thread: its own job group (so Spark
    * jobs are attributed to it), one latency sample, one span. A failure
    * is counted, logged and does not stop the pass. */
  def op(name: String, module: String, sample: Boolean = true)(body: => Unit): Double = {
    val id = Meters.newId()
    groupOp(id.toString) = opMs.size
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    Meters.currentOp = id
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case NonFatal(e) =>
        errors += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        false
    }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    Meters.currentOp = passSpan
    attempted += 1
    if (!ok) failed += 1
    val ms = (t1 - t0) / 1e6
    if (sample) samples += ms
    opMs += ms
    opModule += module
    opName += name
    Meters.addSpan(Span(id, passSpan, "op", name, t0, t1))
    ms
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def freshDir(tag: String): String = {
    val d = new java.io.File(s"$work/$tag-p$passNo-${Meters.newId()}")
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A workload: the operations of one pass. */
trait Workload {
  def name: String
  /** A pass's nominal length on four cores; it turns `--seconds` into a
    * pass count that does not depend on how fast this run happens to be. */
  def nominalPassS: Double
  /** Seconds of untimed passes after the set-up pass, as a pass count
    * over [[nominalPassS]]: enough that the timed passes start past the
    * steep part of the JIT ramp. */
  def warmS: Double = 3.0
  /** `SparkEntry.queries` keys run by every pass, each with the SURVEY.md
    * module its operator lives in. */
  def keyModules: Seq[(String, String)]
  def keys: Seq[String] = keyModules.map(_._1)
  def pass(ctx: Ctx): Unit =
    keyModules.foreach { case (k, m) => Workloads.runKey(ctx, k, m) }
}

object Workloads {
  val all: Seq[Workload] = Seq(DbtBuild, CurationBatch, IngestStream)

  /** Every module a per-layer metric is reported for. */
  lazy val modules: Seq[String] =
    (all.flatMap(_.keyModules).map(_._2) ++ Seq("pipeline", "txlogformat")).distinct.sorted

  /** Counters the workloads add to a pass with [[Ctx.add]]. */
  val layerNames = Seq("pipeline.models", "pipeline.dag_wall_s",
    "pipeline.critical_path_s", "pipeline.test_ms", "txlog.commits",
    "txlog.files_written", "txlog.mb_written", "txlog.log_mb",
    "txlog.stored_bytes_per_input_byte")

  /** One key, one operation. Timed passes materialize through the noop sink
    * (full projection, no storage); the set-up pass writes parquet for the
    * oracle comparison instead. */
  def runKey(ctx: Ctx, key: String, module: String): Unit = ctx.op(key, module) {
    val df = SparkEntry.queries(key)(ctx.spark, ctx.in)
    if (ctx.verify) df.write.mode("overwrite").parquet(s"${ctx.out}/keys/$key")
    else df.write.mode("overwrite").format("noop").save()
  }

  /** Bytes of every regular file under `dir` and their count. */
  def du(dir: java.io.File): (Long, Long) =
    if (dir.isFile) (dir.length, 1L)
    else Option(dir.listFiles).toSeq.flatten.map(du)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** The generated input table's parquet bytes. */
  def inputBytes(ctx: Ctx, table: String): Long =
    du(new java.io.File(s"${ctx.in}/$table.parquet"))._1

}

/** Many sub-second operations: planning, job launch, rig set-up and txlog
  * commits dominate. A reference-shaped dbt DAG built with
  * `Pipeline.build(format = TxLogFormat)`, full refresh and then a seeded
  * delta, plus the dbt-surface keys. */
object DbtBuild extends Workload {
  val name = "dbt_build"
  val nominalPassS = 2.0
  /** Planning and job launch run the driver's Catalyst code, which takes
    * far longer to compile than the kernels: the first pass after the
    * set-up pass runs about a third slower than the sixth, and how far the
    * JIT has got, which moves with the machine's load, would decide the
    * figures. */
  override val warmS = 6.0
  val keyModules = Seq("stg_orders" -> "relational", "snapshot_scd2" -> "snapshot",
    "incremental_merge" -> "incremental")

  /** A seeded 1-in-`n` slice of the rows, by key. */
  private def slice(key: String, seed: Long, n: Int, r: Int = 0) =
    pmod(xxhash64(col(key), lit(seed)), lit(n.toLong)) === r

  /** Tests return violating rows (the dbt convention). */
  private def notNull(c: String): DataFrame => DataFrame = _.filter(col(c).isNull)
  private def unique(c: String): DataFrame => DataFrame =
    _.groupBy(c).count().filter(col("count") > 1)
  private def accepted(c: String, vs: String*): DataFrame => DataFrame =
    _.filter(!col(c).isin(vs: _*))

  private def models(customerKeys: => DataFrame): Seq[Model] = Seq(
    Model("stg_orders", Seq("orders"), ViewMat, in => Relational.stgOrders(in("orders")),
      tests = Seq("not_null_order_key" -> notNull("order_key"),
        "accepted_values_order_status" -> accepted("order_status", "O", "F", "P"))),
    Model("stg_customer", Seq("customer"), ViewMat, in => in("customer").select(
      col("c_custkey").as("customer_key"), col("c_name").as("name"),
      col("c_mktsegment").as("segment")),
      tests = Seq("unique_customer_key" -> unique("customer_key"))),
    Model("fct_orders", Seq("stg_orders"),
      TableMat(partitionBy = Some("bucket"), clusterBy = Seq("order_key")),
      in => in("stg_orders").withColumn("bucket",
        when(col("total_price") > 100000, "high").otherwise("regular")),
      tests = Seq("relationships_customer_key" -> (df =>
        df.join(customerKeys, Seq("customer_key"), "left_anti")))),
    Model("int_orders", Seq("orders_delta"), IncrementalMat("o_orderkey"),
      in => in("orders_delta").select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice"),
      tests = Seq("unique_o_orderkey" -> unique("o_orderkey"))),
    Model("snap_orders", Seq("observations"), TableMat(),
      in => Snapshot.scd2Timestamp(in("observations"), "o_orderkey", "observed_at")))

  /** The seeded delta: 1 order in 20 changes status and price, and as many
    * new orders arrive with fresh keys. */
  private def delta(orders: DataFrame, seed: Long): DataFrame = {
    val changed = orders.filter(slice("o_orderkey", seed, 20))
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1)
    val fresh = orders.filter(slice("o_orderkey", seed, 20, 1))
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    changed.unionByName(fresh)
  }

  override def pass(ctx: Ctx): Unit = {
    super.pass(ctx)
    val s = ctx.spark
    val orders = Tables.orders(s, ctx.in)
    val dOrders = delta(orders, ctx.seed)
    def obs(df: DataFrame, day: Int) =
      df.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("observed_at", lit(day))
    val base = Map("orders" -> orders, "customer" -> Tables.customer(s, ctx.in))
    val full = base ++ Map("orders_delta" -> orders, "observations" -> obs(orders, 0))
    val incr = base ++ Map("orders_delta" -> dOrders,
      "observations" -> obs(orders, 0).unionByName(obs(dOrders, 1)))
    val target = ctx.freshDir("dag")
    val dag = new Pipeline(models(Tables.customer(s, ctx.in)
      .select(col("c_custkey").as("customer_key"))), format = TxLogFormat)
    val stats = new DagStats(ctx)
    var results = Seq.empty[Map[String, String]]
    for ((srcs, refresh, tag) <- Seq((full, true, "dag_full"), (incr, false, "dag_delta")))
      ctx.op(tag, "pipeline", sample = false) {
        val t0 = System.nanoTime()
        val (_, st) = dag.build(s, srcs, target, stats.hooks, fullRefresh = refresh,
          threads = ctx.cpus)
        stats.finishBuild(t0, System.nanoTime())
        results :+= st
        val bad = st.filter(_._2 != "success")
        if (bad.nonEmpty) throw new IllegalStateException(s"$tag: $bad")
      }
    // read cost beside write cost: every persisted model read back whole
    val tables = Seq("fct_orders", "int_orders", "snap_orders")
    val counts = tables.map { t =>
      var n = -1L
      ctx.sample("txlog.read_ms", ctx.op(s"read_$t", "txlogformat") {
        n = TxLogFormat.read(s, s"$target/$t").count()
      })
      t -> n
    }.toMap
    val commits = tables.map(t => TxLogFormat.versions(s"$target/$t").size).sum
    ctx.add("txlog.commits", commits.toDouble)
    val (bytes, files) = Workloads.du(new java.io.File(target))
    val (logBytes, logFiles) = tables.map(t =>
      Workloads.du(new java.io.File(s"$target/$t/_txlog"))).foldLeft((0L, 0L))(
      (a, b) => (a._1 + b._1, a._2 + b._2))
    ctx.add("txlog.files_written", (files - logFiles).toDouble)
    ctx.add("txlog.mb_written", (bytes - logBytes) / 1e6)
    ctx.add("txlog.log_mb", logBytes / 1e6)
    ctx.add("txlog.stored_bytes_per_input_byte", bytes.toDouble /
      Seq("orders", "customer").map(Workloads.inputBytes(ctx, _)).sum)
    if (ctx.verify) {
      // expectations from plain Spark over the same generated inputs
      val nOrders = orders.count()
      val nDelta = dOrders.count()
      val nChanged = orders.filter(slice("o_orderkey", ctx.seed, 20)).count()
      val nFresh = orders.filter(slice("o_orderkey", ctx.seed, 20, 1)).count()
      ctx.check("dag.statuses",
        results.size == 2 && results.forall(_.values.forall(_ == "success")), results.toString)
      ctx.check("dag.fct_orders", counts("fct_orders") == nOrders,
        s"${counts("fct_orders")} vs $nOrders")
      ctx.check("dag.int_orders", counts("int_orders") == nOrders + nFresh,
        s"${counts("int_orders")} vs ${nOrders + nFresh}")
      ctx.check("dag.snap_orders", counts("snap_orders") == nOrders + nDelta,
        s"${counts("snap_orders")} vs ${nOrders + nDelta}")
      val updated = TxLogFormat.read(s, s"$target/int_orders")
        .filter(col("o_orderstatus") === "U").count()
      ctx.check("dag.int_orders_updates", updated == nChanged, s"$updated vs $nChanged")
    }
  }

  /** Model and test timings from `RunHooks`: a model runs from its
    * `beforeModel` to its `afterModel`; its tests then run on the same
    * worker thread under their own job group, and last until the end of
    * their last Spark job. */
  final class DagStats(ctx: Ctx) {
    private val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val done = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
    private val testGroups = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val deps = models(ctx.spark.emptyDataFrame).map(m => m.name -> m.deps).toMap

    val hooks = RunHooks(
      beforeModel = m => {
        val id = Meters.newId()
        started.put(m.name, System.nanoTime())
        ctx.sc.setJobGroup(id.toString, m.name, interruptOnCancel = false)
        testGroups.put(m.name, id)
      },
      afterModel = (m, _) => {
        val end = System.nanoTime()
        val id = testGroups.get(m.name)
        done.put(m.name, (started.get(m.name), end, id))
        val tid = Meters.newId()
        ctx.sc.setJobGroup(tid.toString, s"${m.name} tests", interruptOnCancel = false)
        testGroups.put(m.name, tid)
      })

    def finishBuild(t0: Long, t1: Long): Unit = {
      val jobEnds = Meters.jobEndsByGroup(ctx.sc)
      val rows = done.asScala.toSeq.map { case (n, (s, e, id)) =>
        val testEnd = jobEnds.getOrElse(testGroups.get(n).toString, e).max(e)
        (n, s, e, testEnd, id)
      }
      rows.foreach { case (n, s, e, te, id) =>
        // the operation is the model's whole step: materialize, then test
        ctx.samples += (te - s) / 1e6
        ctx.sample("pipeline.model_ms", (e - s) / 1e6)
        ctx.groupOp(id.toString) = ctx.opMs.size
        ctx.groupOp(testGroups.get(n).toString) = ctx.opMs.size
        Meters.addSpan(Span(id, Meters.currentOp, "model", n, s, e))
        if (te > e) Meters.addSpan(Span(Meters.newId(), Meters.currentOp, "model",
          s"$n tests", e, te))
      }
      // a model's finish on the critical path: its own time (tests included)
      // after the latest finish among the models it depends on
      def fin(n: String): Double = rows.find(_._1 == n).map { case (_, s, _, te, _) =>
        (te - s) / 1e9 + deps(n).filter(deps.contains).map(fin).foldLeft(0.0)(math.max)
      }.getOrElse(0.0)
      val busy = rows.map { case (_, s, _, te, _) => (te - s) / 1e9 }.sum
      val wall = (t1 - t0) / 1e9
      ctx.add("pipeline.models", rows.size.toDouble)
      ctx.add("pipeline.dag_wall_s", wall)
      ctx.add("pipeline.critical_path_s", rows.map(r => fin(r._1)).foldLeft(0.0)(math.max))
      ctx.add("pipeline.busy_s", busy)
      ctx.add("pipeline.test_ms", rows.map { case (_, _, e, te, _) => (te - e) / 1e6 }.sum)
      started.clear(); done.clear(); testGroups.clear()
    }
  }
}

/** Executor-CPU-bound token-scale work: n-gram, MinHash and Jaccard
  * kernels, shuffles and the long crawl plans. */
object CurationBatch extends Workload {
  val name = "curation_batch"
  val nominalPassS = 2.0
  val keyModules = Seq("substring_dedup" -> "dedup", "decontaminate" -> "dedup",
    "dedup_minhash_r1" -> "dedup", "dedup_jaccard" -> "dedup",
    "quality_cascade" -> "textanalysis")
}

/** Writes beside reads: AvailableNow ingest rigs (start/stop, per-batch
  * txlog commits, growing indexes, cloned sessions) and a txlog loop the
  * benchmark drives itself over seeded batches. */
object IngestStream extends Workload {
  val name = "ingest_stream"
  val nominalPassS = 3.0
  val keyModules = Seq("stream_dedup_ingest" -> "streamops")

  /** Number of batches the orders table is split into. */
  val batches = 4

  override def pass(ctx: Ctx): Unit = {
    super.pass(ctx)
    val s = ctx.spark
    val orders = Tables.orders(s, ctx.in)
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    // the seed sets where the batch boundaries fall
    val batchOf = pmod(xxhash64(col("o_orderkey"), lit(ctx.seed)), lit(batches.toLong))
    val path = ctx.freshDir("txlog") + "/orders"
    val part = Some("o_orderstatus")
    var commits = 0
    def commit(name: String)(body: => Unit): Unit = {
      ctx.sample("txlog.commit_ms", ctx.op(name, "txlogformat")(body))
      commits += 1
    }
    var live = -1L
    def readBack(): Unit = ctx.sample("txlog.read_ms", ctx.op("read_count", "txlogformat") {
      live = TxLogFormat.read(s, path).count()
    })
    def batch(i: Int) = orders.filter(batchOf === i)
    commit("write")(TxLogFormat.write(batch(0), path, part))
    readBack()
    // merges touch rows with h >= 50 and deletes rows with h < 50, so no
    // merge re-inserts a deleted row and the live count has a closed form
    val h = pmod(xxhash64(col("o_orderkey"), lit(ctx.seed + 1)), lit(100L))
    for (i <- 1 until batches) {
      commit("append_batch")(TxLogFormat.appendBatch(batch(i), path, "perfbench", i, part))
      readBack()
      if (i % 2 == 0) {
        val upd = orders.filter(batchOf < i && h >= 50 && h < 60)
          .withColumn("o_totalprice", col("o_totalprice") + 1)
        commit("merge")(TxLogFormat.merge(s, path, "o_orderkey", upd, part))
      } else commit("delete_vectors")(TxLogFormat.deleteVectors(s, path, h === i))
      readBack()
    }
    val (preBytes, preFiles) = Workloads.du(new java.io.File(path))
    val (preLog, preLogFiles) = Workloads.du(new java.io.File(s"$path/_txlog"))
    // maintenance is one operation: compact, then vacuum what it replaced
    commit("compact_vacuum") {
      TxLogFormat.compact(s, path, "o_orderstatus")
      TxLogFormat.vacuum(path)
    }
    readBack()
    val (bytes, _) = Workloads.du(new java.io.File(path))
    val (logBytes, _) = Workloads.du(new java.io.File(s"$path/_txlog"))
    ctx.add("txlog.commits", commits.toDouble)
    ctx.add("txlog.files_written", (preFiles - preLogFiles).toDouble)
    ctx.add("txlog.mb_written", (preBytes - preLog) / 1e6)
    ctx.add("txlog.log_mb", logBytes / 1e6)
    ctx.add("txlog.stored_bytes_per_input_byte",
      bytes.toDouble / Workloads.inputBytes(ctx, "orders"))
    if (ctx.verify) {
      // a delete at step i removes the rows of its slice committed so far
      val expected = orders.filter(!(1 until batches).filter(_ % 2 == 1)
        .map(i => batchOf <= i && h === i).reduce(_ || _)).count()
      ctx.check("txlog.live_rows", live == expected, s"$live vs $expected")
    }
  }
}
