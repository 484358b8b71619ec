package kgbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spans around calls into the program's layers. The untraced run uses
  * [[NoTrace]], whose `span` is a plain call, so end-to-end figures carry no
  * tracing cost.
  */
trait Trace {
  /** Time `f` as span `name`; the layer is the name up to its first '.'.
    * With `sparkGroup` the Spark jobs `f` starts run in job group `name`,
    * which is how [[Ledger]] assigns stages to layers.
    */
  def span[T](name: String, sparkGroup: Boolean = false)(f: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String, sparkGroup: Boolean)(f: => T): T = f
}

/** Keeps every span in memory (name, start, end, parent, run id) and writes
  * them out once, when the run ends. Single-threaded by design: spans are
  * opened only from the benchmark's driver thread.
  */
final class Tracer(sc: SparkContext, val runId: String) extends Trace {
  private val names = ArrayBuffer[String]()
  private val starts = ArrayBuffer[Long]()
  private val ends = ArrayBuffer[Long]()
  private val parents = ArrayBuffer[Int]()
  private var open: List[Int] = Nil

  def span[T](name: String, sparkGroup: Boolean)(f: => T): T = {
    val id = names.length
    names += name; starts += System.nanoTime(); ends += -1L; parents += open.headOption.getOrElse(-1)
    open = id :: open
    if (sparkGroup) sc.setJobGroup(name, name)
    try f
    finally {
      if (sparkGroup) sc.clearJobGroup()
      ends(id) = System.nanoTime()
      open = open.tail
    }
  }

  private def dur(i: Int): Long = ends(i) - starts(i)

  /** Seconds spent in spans called `name`. */
  def total(name: String): Double = names.indices.filter(names(_) == name).map(dur).sum / 1e9

  /** Per-layer self time in seconds, over the spans named `under` and their
    * descendants: each span's duration minus the part its children cover.
    */
  def selfTimes(under: String): Map[String, Double] = {
    val child = new Array[Long](names.length)
    for (i <- names.indices if parents(i) >= 0) child(parents(i)) += dur(i)
    val inside = new Array[Boolean](names.length) // parents precede children
    for (i <- names.indices) inside(i) = names(i) == under || (parents(i) >= 0 && inside(parents(i)))
    names.indices.filter(inside).groupBy(i => names(i).takeWhile(_ != '.'))
      .map { case (layer, is) => layer -> is.map(i => dur(i) - child(i)).sum / 1e9 }
  }

  /** One JSON object per span, then one per ledger stage. */
  def write(path: java.nio.file.Path, ledger: Ledger): Unit = {
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try {
      for (i <- names.indices)
        out.println(s"""{"run":"$runId","span":$i,"name":"${names(i)}","start_ns":${starts(i)},""" +
          s""""end_ns":${ends(i)},"parent":${parents(i)}}""")
      ledger.stageLines(runId).foreach(out.println)
    } finally out.close()
  }
}

/** Listener registered only in the traced run. Sums task metrics per Spark
  * job group (= the layer span that started the job) and keeps per-task
  * figures per stage for skew.
  */
final class Ledger extends SparkListener {
  final class Sums {
    var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shReadBytes = 0L; var shReadRecords = 0L; var shWriteBytes = 0L; var spillBytes = 0L
  }
  final class StageTasks(val group: String) {
    val durations = ArrayBuffer[Long](); val shReadRecords = ArrayBuffer[Long]()
  }
  private val groups = scala.collection.mutable.Map[String, Sums]()
  private val stageGroup = scala.collection.mutable.Map[Int, String]()
  private val stageTasks = scala.collection.mutable.LinkedHashMap[Int, StageTasks]()
  private def sums(g: String): Sums = groups.getOrElseUpdate(g, new Sums)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    sums(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    sums(stageGroup.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "other")
    val s = sums(g)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    val m = e.taskMetrics
    val st = stageTasks.getOrElseUpdate(e.stageId, new StageTasks(g))
    st.durations += e.taskInfo.duration
    if (m != null) {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shReadRecords += m.shuffleReadMetrics.recordsRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.shReadRecords += m.shuffleReadMetrics.recordsRead
    }
  }

  /** Sums over every group whose name starts with `prefix`. */
  def sum(prefix: String)(f: Sums => Long): Long = synchronized {
    groups.iterator.filter(_._1.startsWith(prefix)).map(g => f(g._2)).sum
  }

  /** Stages of the groups starting with `prefix` that read shuffle data. */
  def shuffleReadStages(prefix: String): Seq[StageTasks] = synchronized {
    stageTasks.valuesIterator.filter(s => s.group.startsWith(prefix) && s.shReadRecords.exists(_ > 0)).toVector
  }

  def stagesOf(prefix: String): Seq[StageTasks] = synchronized {
    stageTasks.valuesIterator.filter(_.group.startsWith(prefix)).toVector
  }

  def stageLines(runId: String): Seq[String] = synchronized {
    stageTasks.toVector.map { case (id, st) =>
      s"""{"run":"$runId","stage":$id,"group":"${st.group}","tasks":${st.durations.size},""" +
        s""""task_ms":[${st.durations.mkString(",")}],"shuffle_read_records":[${st.shReadRecords.mkString(",")}]}"""
    }
  }
}
