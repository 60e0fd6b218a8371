package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `op` groups the spans of one operation
  * (one reload, one micro-batch drain, one request, one query). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one job tag: every stage of every job that
  * carried the tag, and every SQL execution started under it. */
final class TagCost {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var planMs = 0L
}

/** Span recorder plus the SparkListener that attributes task, GC, shuffle
  * and planning cost to spans by job tag. Every span adds its own tag
  * (`pb-<id>`) to the calling thread for its duration, so a job carries
  * the tags of all spans open around it (its span and their parents) and
  * is charged to each of them — never to a neighbour, so nothing bleeds
  * across operations. Threads started inside a span (the streaming
  * query's execution thread) inherit the tags, so their jobs are charged
  * too. Everything stays in memory until [[snapshot]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val currentOp = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  private val costs = new ConcurrentHashMap[String, TagCost]()
  private val jobTags = new ConcurrentHashMap[Int, Set[String]]()
  private val stageTags = new ConcurrentHashMap[Int, Set[String]]()
  private val execTags = new ConcurrentHashMap[Long, Set[String]]()

  private def cost(tag: String) = costs.computeIfAbsent(tag, _ => new TagCost)
  private def ours(tags: Iterable[String]) = tags.filter(_.startsWith("pb-")).toSet

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = ours(props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil))
      if (tags.nonEmpty) {
        jobTags.put(e.jobId, tags)
        e.stageIds.foreach(s => stageTags.merge(s, tags, (a, b) => a ++ b))
        tags.foreach(t => cost(t).synchronized { cost(t).jobs += 1 })
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val tags = Option(stageTags.remove(e.stageInfo.stageId)).getOrElse(Set.empty)
      val m = e.stageInfo.taskMetrics
      if (tags.nonEmpty && m != null) tags.foreach { t =>
        val c = cost(t)
        c.synchronized {
          c.stages += 1
          c.tasks += e.stageInfo.numTasks
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobTags.remove(e.jobId)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val tags = ours(s.jobTags)
        if (tags.nonEmpty) execTags.put(s.executionId, tags)
      case end: SparkListenerSQLExecutionEnd =>
        val tags = Option(execTags.remove(end.executionId)).getOrElse(Set.empty)
        if (tags.nonEmpty) {
          val planMs = org.apache.spark.sql.perfbenchglue.SqlGlue.planningMs(end)
          tags.foreach { t =>
            val c = cost(t)
            c.synchronized { c.planMs += planMs }
          }
        }
      case _ =>
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Starts a new operation on this thread; its spans share `op`. */
  def op[T](name: String)(body: => T): T = {
    val prev = currentOp.get()
    currentOp.set(ids.incrementAndGet())
    try span(name)(body) finally currentOp.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val tag = s"pb-$id"
      val parents = stack.get()
      stack.set(id :: parents)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp.get(),
          name, t0, t1))
      }
    }

  /** Flushes the listener bus and returns every span with its cost. */
  def snapshot(): Seq[(Span, TagCost)] = {
    if (!enabled) return Nil
    org.apache.spark.graftglue.ListenerGlue.waitUntilListenerBusEmpty(sc)
    spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s -> Option(costs.get(s"pb-${s.id}")).getOrElse(new TagCost))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

/** Host and JVM contamination labels, sampled around a measured window. */
object Host {
  def load1(): Double = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
  } catch { case _: Exception => -1.0 }

  /** (steal jiffies, total jiffies) of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = try {
    val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (if (f.length >= 8) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def statusKb(key: String): Double = try {
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith(key)).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
  } catch { case _: Exception => -1.0 }

  /** Resident-set high-water mark since the last [[resetPeakRss]], MB. */
  def peakRssMb(): Double = statusKb("VmHWM:") / 1024.0

  /** Restarts the high-water mark at the current RSS, so the peak covers
    * the measured window only (Linux clear_refs value 5). */
  def resetPeakRss(): Unit = try {
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
  } catch { case _: Exception => () }

  final case class Window(load1Start: Double, steal0: (Long, Long), gc0: Long) {
    def close(): Map[String, Double] = {
      val (s1, j1) = cpuJiffies()
      val steal = if (j1 > steal0._2) 100.0 * (s1 - steal0._1) / (j1 - steal0._2) else 0.0
      Map("host.load1" -> load1Start, "host.load1_end" -> load1(),
        "host.steal_pct" -> steal, "jvm.gc_s" -> (gcMs() - gc0) / 1e3)
    }
  }
  def open(): Window = Window(load1(), cpuJiffies(), gcMs())
}
