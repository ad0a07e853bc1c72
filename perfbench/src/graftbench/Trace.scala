package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of the benchmark's own code: a unit, a query, a
  * build, a checkpoint check. `parent` is the enclosing span (-1 at top
  * level); `unit` is the unit the span belongs to (-1 outside units). */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
    startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest on the single benchmark thread; the
  * innermost open span's id is published as a Spark local property, so
  * every job the span's code submits carries it. */
final class Spans(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, unit: Int = current.map(_.unit).getOrElse(-1))(body: => T): T = {
    val s = Span(all.size, name, current.map(_.id).getOrElse(-1), unit,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    stack = s :: stack
    sc.setLocalProperty(Spans.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Spans.Key, current.map(_.id.toString).orNull)
    }
  }

  def current: Option[Span] = stack.headOption
}

object Spans { val Key = "graftbench.span" }

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var outBytes = 0L; var outRecords = 0L
}

final class JobRec(val id: Int, val startMs: Long, val execId: Long, val spanProp: Int,
    val stageIds: Seq[Int], val stageDetails: String) {
  var endMs: Long = -1L
  /** The benchmark span the job was attributed to (set by Main.unitJobs). */
  var span: Int = -1
  val ranStages = mutable.Set.empty[Int]
}

/** A SQL execution: its long call site and physical plan text. */
final case class ExecRec(details: String, plan: String)

/** Listener for traced runs: records jobs, the SQL executions that own
  * them, stage task metrics and the sizes of blocks stored since the last
  * [[resetStorage]]. Read it only after [[org.apache.spark.BusSync.drain]]. */
final class Tracer extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val execs = mutable.Map.empty[Long, ExecRec]
  val stages = mutable.Map.empty[Int, StageAgg]
  val stageOwner = mutable.Map.empty[Int, Int]
  private val active = mutable.Set.empty[Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L

  /** Forgets every block seen so far, so the storage numbers cover only
    * blocks stored from now on (the listener misses removals made while it
    * is not registered). */
  def resetStorage(): Unit = synchronized { blocks.clear(); storageNow = 0L; storagePeak = 0L }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new JobRec(e.jobId, e.time,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop(Spans.Key).map(_.toInt).getOrElse(-1), e.stageIds, details)
    active += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    active -= e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    active.toSeq.sorted.find(j => jobs(j).stageIds.contains(sid)).foreach { j =>
      jobs(j).ranStages += sid
      stageOwner.getOrElseUpdate(sid, j)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    storageNow += size - blocks.getOrElse(b.blockId.name, 0L)
    if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
    storagePeak = math.max(storagePeak, storageNow)
  }

  /** An unpersist removes the RDD's blocks without a block update event. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { k => storageNow -= blocks.remove(k).get }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.details, Option(s.physicalPlanDescription).getOrElse(""))
    }
    case _ =>
  }

  /** The long call site of the code that submitted `j`: its SQL
    * execution's when it has one (AQE stage jobs run on pool threads whose
    * own call site names no program frame), else its final stage's. */
  def callSite(j: JobRec): String =
    execs.get(j.execId).map(_.details).getOrElse(j.stageDetails)
}

/** Maps a call site to the program layer whose code submitted the job: the
  * innermost frame of the program (package `graft`) decides. */
object Layers {
  val names: Seq[String] = Seq("context", "sources", "pipeline", "rownum", "persists",
    "tables", "entry", "steps", "operators", "bench", "other")

  private val Frame = """^\s*(graft\.[\w.$]*)\.([\w$]+)\(([\w$]+)\.scala:\d+\)""".r.unanchored
  private val BenchFrame = """^\s*graftbench\.""".r.unanchored

  /** (layer, innermost program frame's method) for a long call site. */
  def of(callSite: String): (String, String) = {
    val lines = callSite.split("\n")
    lines.collectFirst { case l @ Frame(cls, method, file) => (cls, method, file) } match {
      case Some((cls, method, file)) =>
        val layer = file match {
          case "Context" => "context"
          case "GraftIO" => "sources"
          case "Pipeline" => "pipeline"
          case "RowNum" => "rownum"
          case "Persists" => "persists"
          case "Tables" => "tables"
          case "SparkEntry" => "entry"
          case _ if cls.startsWith("graft.plans.") || cls.startsWith("graft.examples.") => "steps"
          case _ if cls.startsWith("graft.operators.") || cls.startsWith("graft.functions.") => "operators"
          case _ => "other"
        }
        (layer, method)
      case None =>
        if (lines.exists(l => BenchFrame.findFirstIn(l).isDefined)) ("bench", "") else ("other", "")
    }
  }

  /** True when the sources-layer frame is a save (checkpoint write), not a
    * read or read probe. */
  def isWrite(method: String): Boolean = method.toLowerCase.contains("save")
}
