package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.filter.{KnLm, LangId}
import graft.fixtures.Corpus
import graft.jobs.BuildFixtures

/** One benchmark run: its options, its Spark session, and everything it
  * records (set-up samples, operation counts, checks, metrics, witnesses).
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String, val inputs: String, val nproc: Int) {

  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val checkLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stealFrom: (Long, Long) = null
  private var stealTo: (Long, Long) = null
  val listener: Option[SparkMetrics] = if (traced) Some(new SparkMetrics) else None
  var spark: SparkSession = _
  private val t0 = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Mark the end of a phase of the run (seconds since the JVM's start of
    * the workload), kept in `result.json` to show where a run's wall goes.
    */
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9

  /** Seed-derived id ranges of the `Corpus.genRow` generator: a slice for
    * the batch corpus and a disjoint one for the resume corpus. Row ids
    * only seed the per-row RNG, so skew, defects and PII plants keep their
    * shape at any offset.
    */
  val batchBase: Long = 10000000L * (seed + 1)
  val resumeBase: Long = batchBase + 5000000L

  // ---- session and set-up ----

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    listener.foreach(s.sparkContext.addSparkListener)
    Trace.attach(s)
    spark = s
    s
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def models(): (Broadcast[LangId.Model], Broadcast[KnLm.Model]) = {
    val sc = spark.sparkContext
    (sc.broadcast(LangId.load(BuildFixtures.LangIdModelPath)),
      sc.broadcast(KnLm.load(BuildFixtures.KnLmModelPath)))
  }

  /** The run's set-up, timed as `setup_s`: session start, plus model load
    * and broadcast on `filter_batch`. It is the first thing the JVM does,
    * so it includes class loading and static initialisation.
    */
  def setUp(): Option[(Broadcast[LangId.Model], Broadcast[KnLm.Model])] = {
    val t0 = System.nanoTime()
    session(nproc)
    val m = if (workload == "filter_batch") Some(models()) else None
    metrics("setup_s") = (System.nanoTime() - t0) / 1e9
    phase("setup")
    m
  }

  // ---- inputs ----

  /** Offset-id `FileRecord` corpus written to parquet (untimed). */
  def genCorpus(base: Long, n: Int, name: String): String = {
    val s = spark
    import s.implicits._
    val path = s"$work/$name"
    s.range(base, base + n, 1, math.max(nproc, n / 4000)).as[Long]
      .map(id => Corpus.genRow(id))
      .write.mode("overwrite").parquet(path)
    val r = s.read.parquet(path).agg(count(lit(1)), sum(length(col("content")))).head()
    info(s"input.$name.rows") = r.getLong(0)
    info(s"input.$name.content_bytes") = r.getLong(1)
    info(s"input.$name.parquet_bytes") = Ctx.dirStats(path)._2
    phase("generate")
    path
  }

  // ---- operations, checks and the closed loop ----

  def setOp(name: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(SparkMetrics.OpProp, name)

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
    checkLog += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    ok
  }

  /** One measured operation: counted as attempted; failed when it throws
    * or returns false. The body times its measured part with the [[Timer]]
    * it is given; returns those seconds.
    */
  def attempt(name: String)(body: Timer => Boolean): Double = {
    attempted += 1
    val t = new Timer
    val ok =
      try body(t)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          e.printStackTrace()
          false
      }
    if (!ok) {
      failed += 1
      if (checkLog.size < 200)
        checkLog += Map("name" -> name, "ok" -> false, "detail" -> "operation failed")
    }
    t.seconds
  }

  final class Timer {
    var seconds = 0.0
    def apply[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally seconds += (System.nanoTime() - t0) / 1e9
    }
  }

  /** Closed loop with one client: `warm` untimed warm-up operations (run
    * and checked like the others, since a JVM keeps compiling for several
    * operations), then `op` until `budgetS` of wall time has passed and at
    * least `minOps` ran. In a traced run every second measured operation
    * is traced, so the run also yields its own untraced twin. Returns
    * (measured seconds, traced) per measured operation.
    */
  def loop(name: String, budgetS: Double, minOps: Int, warm: Int = 0)(
      op: Int => Double): Seq[(Double, Boolean)] = {
    (0 until warm).foreach { i =>
      setOp("warmup")
      try op(i) finally setOp(null)
    }
    listener.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      l.reset()
    }
    phase("prepare")
    Heap.reset()
    val j0 = Witness.cpuJiffies()
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[(Double, Boolean)]
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val tr = traced && out.size % 2 == 1
      Trace.start(s"$workload-$seed/op${warm + out.size}")
      setOp(s"loop:$name")
      Trace.enabled = tr
      val d = try op(warm + out.size) finally { Trace.enabled = false; setOp(null) }
      out += ((d, tr))
    }
    val j1 = Witness.cpuJiffies()
    phase("loop")
    metrics("jvm.heap_peak_mb") = Heap.peakAfterGcMb
    metrics("heap_live_mb") = Heap.liveMb()
    if (stealFrom == null) stealFrom = j0
    stealTo = j1
    out.toSeq
  }

  /** Run a body as operation `op`, with tracing on unless told otherwise
    * (traced runs only).
    */
  def traceOnly[T](op: String, on: Boolean = true)(body: => T): T = {
    Trace.start(s"$workload-$seed/$op")
    setOp(op)
    Trace.enabled = on
    try body finally { Trace.enabled = false; setOp(null) }
  }

  /** End-to-end metrics from the measured operations of the loop. */
  def endToEnd(ops: Seq[(Double, Boolean)], itemsPerOp: Double): Unit = {
    val plain = ops.filterNot(_._2).map(_._1)
    val use = if (plain.nonEmpty) plain else ops.map(_._1)
    metrics("op_s") = Stats.median(use)
    metrics("items_per_s") = itemsPerOp / Stats.median(use)
    info("ops") = ops.size
    info("op_walls_s") = ops.map(_._1)
    if (traced) {
      // traced (odd) against untraced operations, leaving out the first,
      // which also carries the run's warm-up
      val tr = ops.filter(_._2).map(_._1)
      val warm = ops.drop(1).filterNot(_._2).map(_._1)
      val base = if (warm.nonEmpty) warm else plain
      if (tr.nonEmpty && base.nonEmpty) {
        val over = Stats.median(tr) - Stats.median(base)
        metrics("trace.overhead_s") = over
        metrics("trace.overhead_pct") = 100.0 * over / Stats.median(base)
      }
    }
  }

  // ---- digests ----

  /** Attach an order-independent digest (row count + sum of xxhash64) to
    * `df`. The digest rides the same job as the sink, as an observed
    * metric, so the measured plan runs once.
    */
  def digested(df: DataFrame, cols: Seq[String]): (DataFrame, Observation) = {
    val ob = new Observation()
    val hashed = cols.map { c =>
      val column = df.col(s"`$c`")
      if (Ctx.hasMap(df.schema(c).dataType)) column.cast("string") else column
    }
    (df.observe(ob, count(lit(1)).as("n"),
      sum(xxhash64(hashed: _*).cast("decimal(38,0)")).as("h")), ob)
  }

  def digestOf(ob: Observation): String = {
    val m = ob.get
    s"${m("n")}:${m("h")}"
  }

  /** Evaluate `df` through the `noop` sink; returns its digest. */
  def noop(df: DataFrame, cols: Seq[String]): String = {
    val (d, ob) = digested(df, cols)
    Trace.span("spark.noop_write") { d.write.format("noop").mode("overwrite").save() }
    digestOf(ob)
  }

  // ---- per-layer metrics common to every workload ----

  /** `spark.*` metrics for the measured loop operations, per operation. */
  def sparkMetrics(nOps: Int): Unit = listener.foreach { l =>
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val loopOp = (op: String) => op.startsWith("loop:")
    val t = l.total(loopOp)
    val n = math.max(nOps, 1).toDouble
    metrics("spark.task_cpu_s") = t.cpuNs / 1e9 / n
    metrics("spark.task_run_s") = t.runMs / 1e3 / n
    metrics("spark.gc_s") = t.gcMs / 1e3 / n
    metrics("spark.cpu_eff") =
      math.min((t.cpuNs / 1e9) / math.max((t.runMs - t.gcMs) / 1e3, 1e-3), 1.0)
    metrics("spark.shuffle_write_mb") = t.shuffleWriteBytes / 1048576.0 / n
    metrics("spark.spill_mb") = t.spillBytes / 1048576.0 / n
    metrics("spark.stages") = t.stages / n
    metrics("spark.tasks") = t.tasks / n
    metrics("spark.driver_jobs") = t.jobs / n
    metrics("spark.cache_peak_mb") = l.cachePeakBytes / 1048576.0
    metrics("spark.task_skew") = l.taskSkew(loopOp)
  }

  /** A one-row `noop` job in the warm session: the engine's launch floor. */
  def jobFloor(): Unit = {
    val s = spark
    setOp("floor")
    s.range(1).write.format("noop").mode("overwrite").save()
    val walls = (0 until 15).map { _ =>
      val t0 = System.nanoTime()
      s.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    setOp(null)
    metrics("spark.job_floor_s") = Stats.median(walls)
  }

  // ---- result ----

  def finish(): Unit = {
    if (spark != null && traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    metrics("peak_rss_mb") = Witness.peakRssMb()
    val steal =
      if (stealFrom != null) Witness.stealPct(stealFrom, stealTo) else 0.0
    info("steal_pct") = steal
    info("phases_s") = phases
    if (traced) {
      metrics("witness.steal_pct") = steal
      // per measured operation; the resume path's layers per traced resume
      val self = Trace.selfTimeByLayer("bench.op")
      val resume = Trace.selfTimeByLayer("bench.resume")
      Ctx.Layers.foreach { l =>
        val from = if (l == "jobs" || l == "catalog") resume else self
        metrics(s"self.${l}_s") = from.getOrElse(l, 0.0)
      }
      Trace.write(s"$work/spans.jsonl")
    }
    Json.write(s"$work/result.json", mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "traced" -> traced, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "info" -> info, "checks" -> checkLog.toSeq))
  }
}

object Ctx {
  /** Layers whose self time the traced run reports. */
  val Layers = Seq("filter", "catalog", "jobs", "queries", "profile", "spark",
    "bench")

  def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** (files, bytes) under a directory. */
  def dirStats(path: String): (Long, Long) = {
    val dir = new File(path)
    if (!dir.exists()) (0L, 0L)
    else (FileUtils.listFiles(dir, null, true).size.toLong, FileUtils.sizeOfDirectory(dir))
  }
}
