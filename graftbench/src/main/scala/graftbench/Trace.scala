package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Process-wide counters read around spans and timed regions. */
object Probes {

  /** Hadoop FileSystem read, write and list operations so far: the
    * global storage statistics' op counters (what HDFS and the object
    * stores maintain) plus the local file system's, which Hadoop does not
    * count itself and [[CountingLocalFileSystem]] does when installed. In
    * local mode executor tasks share the driver JVM, so their file ops
    * are included. */
  def fsOps(): Long = {
    var n = CountingLocalFileSystem.ops.get()
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator()
    while (it.hasNext) {
      val st = it.next()
      Seq("readOps", "largeReadOps", "writeOps").foreach { k =>
        val v = st.getLong(k)
        if (v != null) n += v.longValue()
      }
    }
    n
  }

  /** Janino compilations since JVM start. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** Cumulative collection time of every JVM garbage collector. */
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** CPU time of the whole process (all threads). */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  private def heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  /** Peak live heap over a region: the largest heap total left in use
    * after a collection, from the JVM's collection notifications. (The
    * pre-collection peak only tracks how far the collector let the young
    * generation grow, which is the heap size, not the program.) */
  final class HeapPeak {
    @volatile private var peak = 0L
    private val pools = heapPools
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification,
          hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData
              .asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if pools(k) => u.getUsed }.sum
          synchronized { if (after > peak) peak = after }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.collect { case e: javax.management.NotificationEmitter => e }

    def start(): Unit =
      emitters.foreach(_.addNotificationListener(listener, null, null))

    /** Stops listening; returns the peak in MiB. */
    def stop(): Double = {
      emitters.foreach(e =>
        try e.removeNotificationListener(listener)
        catch { case _: javax.management.ListenerNotFoundException => () })
      val bytes: Long = synchronized(peak)
      bytes.toDouble / (1024.0 * 1024.0)
    }
  }
}

/** The local file system with an operation counter: every open, create,
  * append, rename, delete, mkdirs, status and listing call counts one.
  * Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream,
    FSDataOutputStream, LocatedFileStatus, Path, RemoteIterator}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFileSystem.ops

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def getFileStatus(f: Path): FileStatus = {
    ops.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    ops.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    ops.incrementAndGet(); super.listLocatedStatus(f)
  }
}

object CountingLocalFileSystem {
  val ops = new java.util.concurrent.atomic.AtomicLong()
}

/** One benchmark span: a call into one layer's public functions. */
final case class SpanRec(
    id: String,
    layer: String,
    wallS: Double,
    startMs: Long,
    endMs: Long,
    fsOps: Long,
    codegen: Long)

/** A Spark job as the listener saw it. */
final case class JobRec(
    jobId: Int,
    span: Option[String],
    desc: Option[String],
    startMs: Long,
    endMs: Long,
    stageIds: Seq[Int])

/** Task metrics summed over one stage's task attempts. */
final case class TaskAgg(
    tasks: Long = 0L,
    cpuS: Double = 0.0,
    shuffleWrite: Long = 0L,
    input: Long = 0L,
    output: Long = 0L) {
  def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, cpuS + o.cpuS,
    shuffleWrite + o.shuffleWrite, input + o.input, output + o.output)
}

/** What one span did, from its own probes plus the jobs attributed to
  * it. `unionS` is the union of the attributed jobs' intervals; `gapS`
  * is the span's wall-clock window minus the union of those intervals
  * clipped to it (driver time with no job running). */
final case class SpanStats(
    span: SpanRec,
    jobs: Seq[JobRec],
    tasks: TaskAgg,
    unionS: Double,
    gapS: Double) {
  /** Distinct ConnectedComponents round labels among the jobs. */
  def rounds: Int = jobs.flatMap(_.desc)
    .filter(_.startsWith("graft.cc round ")).distinct.size
}

object Attribution {

  /** Total length of the union of `[start, end)` intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Attributes jobs to spans: by the benchmark's span property first;
    * a job that lacks it falls to the span whose window holds the job's
    * start. Each stage's tasks count for the first job that lists the
    * stage (a later job only lists it as skipped). */
  def attribute(spans: Seq[SpanRec], jobs: Seq[JobRec],
      stages: collection.Map[Int, TaskAgg]): Seq[SpanStats] = {
    val byId = spans.map(s => s.id -> s).toMap
    val owner = mutable.HashMap.empty[Int, Int]
    jobs.sortBy(_.jobId).foreach(j =>
      j.stageIds.foreach(s => owner.getOrElseUpdate(s, j.jobId)))
    val stagesOf = owner.groupBy(_._2).map { case (j, m) => j -> m.keys }
    val sortedSpans = spans.sortBy(_.startMs)
    def windowSpan(j: JobRec): Option[String] =
      sortedSpans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .map(_.id)
    val assigned = jobs.groupBy(j =>
      j.span.filter(byId.contains).orElse(windowSpan(j)))
    spans.map { s =>
      val js = assigned.getOrElse(Some(s.id), Nil)
      val tasks = js.flatMap(j => stagesOf.getOrElse(j.jobId, Nil))
        .flatMap(stages.get).foldLeft(TaskAgg())(_ + _)
      val union = unionMs(js.map(j => (j.startMs, j.endMs))) / 1000.0
      val clipped = unionMs(js.map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      val gap = (s.endMs - s.startMs - clipped) / 1000.0
      SpanStats(s, js, tasks, union, gap)
    }
  }
}

/** Records spans and, through a SparkListener, the jobs and tasks they
  * start. Disabled, it only runs the bodies. The span id rides a
  * benchmark-owned local property (graft's own job descriptions are
  * left alone); Spark copies local properties to the threads that run
  * a query's sub-jobs, so every job of a layer call carries it. Spans
  * and events are kept in memory and attributed once, at the end. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanProperty

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, TaskAgg]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.synchronized {
        jobs(e.jobId) = JobRec(e.jobId,
          p.flatMap(x => Option(x.getProperty(SpanProperty))),
          p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .filter(_.nonEmpty),
          e.time, e.time, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val agg =
        if (m == null) TaskAgg(tasks = 1L)
        else TaskAgg(1L, m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten)
      stages.synchronized {
        stages(e.stageId) = stages.getOrElse(e.stageId, TaskAgg()) + agg
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  private var seq = 0

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val id = s"$layer#$seq"
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id)
      val fs0 = Probes.fsOps()
      val cg0 = Probes.codegenCompiles()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        spans += SpanRec(id, layer, (t1 - t0) / 1e9, w0, w1,
          Probes.fsOps() - fs0, Probes.codegenCompiles() - cg0)
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Every job seen so far whose start falls in `[fromMs, toMs]`. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.synchronized(jobs.values.toSeq)
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Drains the listener bus, then attributes every recorded span. */
  def finish(spark: org.apache.spark.sql.SparkSession): Seq[SpanStats] = {
    if (enabled) {
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    Attribution.attribute(spans.toSeq, jobs.synchronized(jobs.values.toSeq),
      stages.synchronized(stages.clone()))
  }
}

object Tracer {
  /** The benchmark's own local property; never graft's. */
  val SpanProperty = "graftbench.span"
}
