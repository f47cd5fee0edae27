package perfbench

import java.lang.management.ManagementFactory

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Spans nest (`run > op > {build, exec}`); `parent` is
  * -1 for a pass's root. Epoch-millisecond bounds let listener events,
  * which carry epoch timestamps, be attributed to the span whose window
  * holds them: ops run one at a time, so a window owns all work in it. */
final case class Span(id: Int, parent: Int, pass: Int, name: String, label: String,
                      t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long,
                      counters: Map[String, Double])

/** Records spans in memory. Counters (process CPU, JVM GC, codegen
  * compiles, local-filesystem statistics, read and write syscalls) are
  * snapshotted at both ends of
  * every span whose name is in `counted`, and stored as deltas. */
final class Spans(counted: Set[String]) {
  val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = -1

  def apply[T](name: String, label: String = "")(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val c0 = if (counted(name)) Counters.snapshot() else Map.empty[String, Double]
    val t0ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    stack = id :: stack
    try f
    finally {
      val t1 = System.nanoTime(); val t1ms = System.currentTimeMillis()
      stack = stack.tail
      val c1 = if (counted(name)) Counters.snapshot() else Map.empty[String, Double]
      done += Span(id, parent, pass, name, label, t0, t1, t0ms, t1ms,
        c1.map { case (k, v) => k -> (v - c0(k)) })
    }
  }

  /** Records stages the engine timed itself as finished children of the
    * open span: `stages` are (name, seconds) in the order they ran, laid
    * end to end from the nanosecond and epoch-millisecond clocks read just
    * before the first. Their counters are not taken. */
  def laidOut(t0Ns: Long, t0Ms: Long, stages: Seq[(String, Double)]): Unit = {
    var at = t0Ns
    stages.foreach { case (name, s) =>
      val end = at + (s * 1e9).toLong
      done += Span(nextId, stack.headOption.getOrElse(-1), pass, name, "", at, end,
        t0Ms + (at - t0Ns) / 1000000, t0Ms + (end - t0Ns) / 1000000, Map.empty)
      nextId += 1
      at = end
    }
  }
}

/** Process-wide counters read through public JVM, Spark and Hadoop APIs. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Fields of /proc/self/io: bytes this process read and wrote through
    * syscalls (page-cache hits included) and its write-syscall count. */
  private def procIo(): Map[String, Long] =
    scala.util.Try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/io")), "US-ASCII")
        .linesIterator.map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }
        .toMap
    }.getOrElse(Map.empty)

  def snapshot(): Map[String, Double] = {
    val bytesWritten = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    val io = procIo()
    Map(
      "cpu_s" -> os.getProcessCpuTime / 1e9,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "fs_bytes_written" -> bytesWritten.toDouble,
      "io_read_bytes" -> io.getOrElse("rchar", 0L).toDouble,
      "io_write_calls" -> io.getOrElse("syscw", 0L).toDouble)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/status")), "US-ASCII")
      s.linesIterator.find(_.startsWith("VmHWM:")).get
        .split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** The largest heap occupancy any collection has left since the last
    * `take`: the live data, sampled at every GC. */
  object HeapAfterGc {
    private val peak = new java.util.concurrent.atomic.AtomicLong
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a: Long, b: Long) => a.max(b))
          }, null, null)
      case _ =>
    }

    /** The peak in MB since the last call; starts the next window. */
    def take(): Double = peak.getAndSet(0L) / 1048576.0
  }

  /** (1-minute load, steal ticks, all ticks) from /proc; zeros elsewhere. */
  def host(): (Double, Long, Long) = {
    val s = graft.HostMeter.sample()
    (s.load, s.stealTicks, s.totalTicks)
  }
}

/** Raw listener events of traced passes, kept in memory and written out
  * at the end; attribution to spans happens in the report. */
object Collector {
  @volatile var on = false
  val tasks = ArrayBuffer.empty[Map[String, Double]]
  val jobs = ArrayBuffer.empty[Map[String, Double]]
  val plans = ArrayBuffer.empty[Map[String, Double]]
  val batches = ArrayBuffer.empty[Map[String, Double]]
  val spawns = ArrayBuffer.empty[Double]
  @volatile private var markerJob = -1
  @volatile private var markerDone = false
  private val streamsStarted = new java.util.concurrent.atomic.AtomicInteger
  private val streamsEnded = new java.util.concurrent.atomic.AtomicInteger

  private def add(buf: ArrayBuffer[Map[String, Double]], m: Map[String, Double]): Unit =
    buf.synchronized { buf += m }

  /** Task and job events. Added for a traced pass and removed after it. */
  object Tasks extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markerJob = e.jobId
      else add(jobs, Map("t_ms" -> e.time.toDouble))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone = true

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        m.map(f).getOrElse(0L).toDouble
      add(tasks, Map(
        "t_ms" -> i.launchTime.toDouble,
        "duration_ms" -> i.duration.toDouble,
        "run_ms" -> g(_.executorRunTime),
        "cpu_ns" -> g(_.executorCpuTime),
        "gc_ms" -> g(_.jvmGCTime),
        "shuffle_write_bytes" -> g(_.shuffleWriteMetrics.bytesWritten),
        "spill_disk_bytes" -> g(_.diskBytesSpilled),
        "failed" -> (if (i.failed || i.killed) 1.0 else 0.0)))
    }
  }

  private val MarkerKey = "perfbench.marker"

  /** Blocks until every event posted before this call has reached the
    * listeners: the listener bus is FIFO per queue, so once a marker job's
    * end arrives, everything queued before it has been delivered. Streams
    * report their last progress before their termination event. */
  def drain(sc: SparkContext): Unit = {
    markerDone = false
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while ((!markerDone || streamsEnded.get < streamsStarted.get) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Planning phases of every Dataset action, in any session. Registered
    * through `spark.sql.queryExecutionListeners`, so it is constructed once
    * per session, including the sessions the engine opens internally. */
  class Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      add(plans, Map("t_ms" -> start.toDouble, "analysis_ms" -> d("analysis"),
        "optimization_ms" -> d("optimization"), "planning_ms" -> d("planning")))
    }
  }

  /** Micro-batch progress of every streaming query, in any session;
    * registered through `spark.sql.streaming.streamingQueryListeners`. */
  class Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (on) streamsStarted.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (on) streamsEnded.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        val d = p.durationMs
        def g(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        add(batches, Map(
          "t_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "add_batch_ms" -> g("addBatch"), "wal_commit_ms" -> g("walCommit"),
          "commit_offsets_ms" -> g("commitOffsets")))
      }
  }

  val listenerConfs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[Plans].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[Streams].getName)

  private def spawnRecording(): jdk.jfr.Recording = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec
  }

  /** Starts and stops one recording, so that flight-recorder start-up, and
    * the compilation it sets off, happen before any timed pass. */
  def warmRecorder(): Unit = {
    val rec = spawnRecording()
    rec.start(); rec.stop(); rec.close()
  }

  /** Runs `f` as a traced pass: listeners on, a JFR recording of process
    * spawns around it, and a drain of the listener bus afterwards. Only the
    * time inside `f` is the pass's time; set-up and drain stay outside. */
  def traced[T](sc: SparkContext, jfrDir: java.nio.file.Path)(f: => T): T = {
    streamsStarted.set(0); streamsEnded.set(0)
    sc.addSparkListener(Tasks)
    on = true
    val rec = spawnRecording()
    rec.start()
    try f
    finally {
      rec.stop()
      drain(sc)
      on = false
      sc.removeSparkListener(Tasks)
      val file = jfrDir.resolve("spawns.jfr")
      rec.dump(file)
      rec.close()
      val evs = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
      spawns.synchronized {
        evs.filter(_.getEventType.getName == "jdk.ProcessStart")
          .foreach(ev => spawns += ev.getStartTime.toEpochMilli.toDouble)
      }
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
