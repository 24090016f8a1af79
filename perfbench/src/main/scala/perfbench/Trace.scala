package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark's own counters for the jobs of one span. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, shuffleBytes: Long = 0,
                          spillBytes: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                          peakMemBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, cpuNs + o.cpuNs,
    gcMs + o.gcMs, math.max(peakMemBytes, o.peakMemBytes))
}

/** Spark's thread-local job properties (the constants on SparkContext are
  * package-private). */
object JobGroup {
  val Key = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"
}

/** Attributes every task to the job group its job was submitted under.
  * The tracer gives each span its own job group, so a span's counters are
  * exactly the work its calls submitted. */
final class GroupCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def add(group: String, c: Counters): Unit =
    byGroup.merge(group, c, (a: Counters, b: Counters) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobGroup.Key))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    add(group, Counters(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(stageGroup.getOrDefault(e.stageId, ""), Counters(
      tasks = 1,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled,
      cpuNs = m.executorCpuTime + m.executorDeserializeCpuTime,
      gcMs = m.jvmGCTime,
      peakMemBytes = m.peakExecutionMemory))
  }

  def of(group: String): Counters = byGroup.getOrDefault(group, Counters())
}

/** One public call: its name, interval, the span that caused it and the
  * request it served. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long) {
  def durationS: Double = (endNs - startNs) / 1e9
  def group: String = s"span-$id"
}

/** Records one span per public call: name, start, end, parent and request
  * id, kept in memory and written as JSONL at the end of the run.
  *
  * With tracing off only verb spans are kept and `layer` runs its body as
  * is; with tracing on, `layer` also materialises the layer's output
  * inside its span, because Spark is lazy and the work would otherwise
  * land in whichever later call first needs the rows. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {

  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val layersOn = new ThreadLocal[Boolean] { override def initialValue() = enabled }
  private val rowCounts = new ConcurrentHashMap[String, Vector[Long]]()
  private val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  val counters: Option[GroupCounters] =
    if (enabled) { val l = new GroupCounters; sc.addSparkListener(l); Some(l) } else None

  private def record[T](name: String, request: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroup.Key)
    val prevDesc = sc.getLocalProperty(JobGroup.DescriptionKey)
    if (enabled) sc.setJobGroup(s"span-$id", name)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, parent, request, t0, System.nanoTime()))
      stack.set(stack.get.tail)
      if (enabled) {
        sc.setLocalProperty(JobGroup.Key, prevGroup)
        sc.setLocalProperty(JobGroup.DescriptionKey, prevDesc)
      }
    }
  }

  /** A verb or request boundary: recorded in both modes. */
  def verb[T](name: String, request: Long = 0)(body: => T): T = record(name, request)(body)

  /** Run `body` with layer spans on or off on this thread, so a traced
    * run can interleave untraced operations and measure its own
    * overhead. Without tracing, layers stay off. */
  def withLayers[T](on: Boolean)(body: => T): T = {
    val prev = layersOn.get
    layersOn.set(enabled && on)
    try body finally layersOn.set(prev)
  }

  def layersActive: Boolean = layersOn.get

  /** A layer boundary inside a verb: recorded only when tracing. */
  def layer[T](name: String, request: Long = 0)(body: => T): T =
    if (layersActive) record(name, request)(body) else body

  /** A layer whose output is a DataFrame: when tracing, the output is
    * persisted and evaluated in full (every column, via the physical
    * plan, not a pruned count) inside the span. */
  def layerDf(name: String, request: Long = 0)(body: => DataFrame): DataFrame =
    if (!layersActive) body
    else record(name, request) {
      val df = body.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted.add(df)
      // a fresh plan over every column, so the cache is what gets filled
      val n = df.select("*").queryExecution.toRdd.count()
      rowCounts.merge(name, Vector(n), (a: Vector[Long], b: Vector[Long]) => a ++ b)
      df
    }

  /** Drop every layer output `layerDf` persisted so far. */
  def releaseLayers(): Unit = {
    var df = persisted.poll()
    while (df != null) { df.unpersist(); df = persisted.poll() }
  }

  /** Output row counts of every traced `layerDf` span named `name`. */
  def rows(name: String): Vector[Long] = rowCounts.getOrDefault(name, Vector.empty)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Counters of a span and every span below it. */
  def countersOf(s: Span): Counters = counters.fold(Counters()) { c =>
    val all = spans
    val kids = all.groupBy(_.parent)
    def walk(x: Span): Counters =
      kids.getOrElse(x.id, Nil).foldLeft(c.of(x.group))((acc, k) => acc + walk(k))
    walk(s)
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.endNs - s.startNs) - covered
  }

  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Write every span as one JSON line, with its self time. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val all = spans
    val base = if (all.isEmpty) 0L else all.map(_.startNs).min
    val lines = all.map { s =>
      val c = counters.map(_.of(s.group)).getOrElse(Counters())
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ms":${(s.startNs - base) / 1e6},"end_ms":${(s.endNs - base) / 1e6},""" +
        s""""self_ms":${selfNs(s, all) / 1e6},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"cpu_ns":${c.cpuNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
