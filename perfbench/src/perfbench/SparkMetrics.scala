package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The benchmark's own listener: stage/task/block events attributed to
  * the benchmark operation that submitted them (`perfbench.op` local
  * property), plus one span per completed stage for [[Trace]].
  *
  * Stages whose call site lies in `TableCatalog.scala` are the catalog
  * layer's durable writes; everything else is plain engine work.
  */
final class SparkMetrics extends SparkListener {
  import SparkMetrics._

  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var catalogRunMs = 0L
  }

  private val byOp = mutable.LinkedHashMap.empty[String, Agg]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val cached = mutable.Map.empty[String, Long]
  private var cacheNow = 0L
  private var cachePeak = 0L

  def reset(): Unit = synchronized {
    byOp.clear(); stageOp.clear(); stageSpan.clear(); stageTasks.clear()
    taskMs.clear(); cachePeak = cacheNow
  }

  private def agg(op: String): Agg = byOp.getOrElseUpdate(op, new Agg)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProp))).getOrElse("other")
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toInt).getOrElse(0)
    agg(op).jobs += 1
    js.stageInfos.foreach { si =>
      stageOp(si.stageId) = op
      stageSpan(si.stageId) = span
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (te.taskInfo != null)
      taskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty[Long]) +=
        te.taskInfo.duration
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    val a = agg(stageOp.getOrElse(si.stageId, "other"))
    val m = si.taskMetrics
    val catalog = Option(si.details).exists(_.contains("TableCatalog.scala"))
    a.stages += 1
    a.tasks += si.numTasks
    stageTasks(si.stageId) = si.numTasks
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (catalog) a.catalogRunMs += m.executorRunTime
    }
    for (s <- si.submissionTime; e <- si.completionTime)
      Trace.external(if (catalog) "catalog.stage" else "spark.stage",
        stageSpan.getOrElse(si.stageId, 0), s, e)
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = synchronized {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val size = info.memSize + info.diskSize
      cacheNow -= cached.getOrElse(key, 0L)
      if (info.storageLevel.isValid && size > 0) {
        cached(key) = size
        cacheNow += size
      } else cached.remove(key)
      cachePeak = math.max(cachePeak, cacheNow)
    }
  }

  /** Sum over every operation whose name passes `keep`. */
  def total(keep: String => Boolean): Agg = synchronized {
    val t = new Agg
    byOp.foreach { case (op, a) =>
      if (keep(op)) {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
        t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
        t.catalogRunMs += a.catalogRunMs
      }
    }
    t
  }

  def cachePeakBytes: Long = synchronized(cachePeak)

  /** Max / median task time in the stage with the most tasks among the
    * operations passing `keep` (ties: the stage with more task time).
    */
  def taskSkew(keep: String => Boolean): Double = synchronized {
    val cands = stageTasks.keys.filter(id =>
      keep(stageOp.getOrElse(id, "other")) && taskMs.contains(id)).toSeq
    if (cands.isEmpty) 1.0
    else {
      val widest = cands.maxBy(id => (stageTasks(id), taskMs(id).sum))
      val d = taskMs(widest).sorted
      val med = Stats.median(d.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else d.last / med
    }
  }
}

object SparkMetrics {
  val OpProp = "perfbench.op"
}
