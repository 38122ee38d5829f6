package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work summed over one window of the benchmark's timeline. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesOut = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesOut += o.bytesOut
  }
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
}

object Work {
  val Mb: Double = 1024.0 * 1024.0
}

/** One traced interval: a benchmark op/step/fold, the public graft call
  * inside it, the Spark action that executed it, and the jobs, stages
  * and triggers the listeners saw. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double)

/** Per-trigger progress of a streaming query, as reported to the
  * benchmark's StreamingQueryListener. */
final case class Trigger(query: String, batch: Long, startMs: Double,
    durations: Map[String, Long])

/** Everything the benchmark measures about graft from outside: a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * it registers itself, plus the spans it records around its own calls.
  *
  * Spark work is attributed through a thread-local property the
  * benchmark sets around each window (`window`); Spark copies local
  * properties into every job, and threads a call starts inherit them,
  * so the stream thread of a fold and graft's helper pools are
  * attributed to the window that started them. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val WindowKey = "graftbench.window"
  private val SpanKey = "graftbench.span"
  private val DrainLabel = "graftbench.drain"

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val work = mutable.Map.empty[String, Work]
  private val stageWindow = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobLabel = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // id, parent, start
  private val spanOp = mutable.Map.empty[Long, Long]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phases = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]
  private val terminated = mutable.Set.empty[String]
  private val ids = new AtomicLong(0)
  @volatile private var drained = false

  /** Called on every streaming progress event (traced runs poll fold
    * directories from here). */
  @volatile var onTrigger: Trigger => Unit = _ => ()

  private def label(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(WindowKey))).getOrElse("none")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val l = label(e.properties)
      jobLabel(e.jobId) = l
      if (l == DrainLabel) return
      work.getOrElseUpdate(l, new Work).jobs += 1
      e.stageIds.foreach { s =>
        stageWindow.getOrElseUpdate(s, l)
        stageJob.getOrElseUpdate(s, e.jobId)
      }
      if (traced) {
        // only jobs started inside a recorded span become spans
        Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).filter(_ != 0L).foreach { parent =>
            jobSpan(e.jobId) = (ids.incrementAndGet(), parent, e.time.toDouble)
          }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (traced) jobSpan.get(e.jobId).foreach { case (id, parent, start) =>
        addSpan(Span(id, parent, 0L, s"job:${e.jobId}", start, e.time.toDouble))
      }
      if (jobLabel.remove(e.jobId).contains(DrainLabel)) drained = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val w = work.getOrElseUpdate(stageWindow.getOrElse(si.stageId, "none"), new Work)
      val m = si.taskMetrics
      w.stages += 1
      w.tasks += si.numTasks
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.diskBytesSpilled
        w.bytesOut += m.outputMetrics.bytesWritten
      }
      if (traced) for {
        job <- stageJob.get(si.stageId)
        (jid, _, _) <- jobSpan.get(job)
        start <- si.submissionTime
        end <- si.completionTime
      } addSpan(Span(ids.incrementAndGet(), jid, 0L, s"stage:${si.stageId}",
        start.toDouble, end.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.valuesIterator.map(_.startTimeMs).min.toDouble
        listener.synchronized {
          phases += (start -> ph.map { case (k, v) => k -> v.durationMs.toDouble })
        }
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      val t = Trigger(Option(p.name).getOrElse(""), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        durations)
      listener.synchronized { triggers += t }
      onTrigger(t)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      listener.synchronized { terminated += e.runId.toString }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Attribute every job started inside `body` (on this thread or any
    * thread it starts) to the window `name`. */
  def window[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(WindowKey)
    sc.setLocalProperty(WindowKey, name)
    try body finally sc.setLocalProperty(WindowKey, prev)
  }

  /** Wait until the listener has seen every event posted so far: a
    * sentinel job's end arrives after all earlier events on the same
    * queue. */
  def drain(): Unit = {
    drained = false
    window(DrainLabel)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Wait until the stream listener has seen `n` queries end. */
  def awaitTerminated(n: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (listener.synchronized(terminated.size) < n && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Work of every window whose name starts with `prefix`. */
  def workOf(prefix: String): Work = listener.synchronized {
    val w = new Work
    work.iterator.filter(_._1.startsWith(prefix)).foreach(x => w += x._2)
    w
  }

  /** Catalyst phase durations (ms) summed over the query executions
    * that started inside [from, to]. */
  def phaseMs(from: Double, to: Double): Map[String, Double] = listener.synchronized {
    phases.iterator.filter { case (s, _) => s >= from && s <= to }
      .flatMap(_._2).toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def triggersOf(queryPrefix: String, from: Double, to: Double): Seq[Trigger] =
    listener.synchronized {
      triggers.filter(t => t.query.startsWith(queryPrefix) &&
        t.startMs >= from && t.startMs <= to).toSeq
    }

  def terminatedCount: Int = listener.synchronized(terminated.size)

  // ---- spans ----

  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  private def addSpan(s: Span): Unit = listener.synchronized {
    val op = if (s.op != 0L) s.op else spanOp.getOrElse(s.parent, s.id)
    spanOp(s.id) = op
    spans += s.copy(op = op)
  }

  /** The innermost span open on this thread (0 when none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Record `body` as a span under the innermost open span; jobs it
    * starts attach to it. A no-op wrapper in untraced runs. */
  /** Spans are recorded only while this is set (the timed region). */
  @volatile var recording = false

  def span[A](name: String)(body: => A): A =
    if (!traced || !recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      listener.synchronized {
        spanOp(id) = if (parent == 0L) id else spanOp.getOrElse(parent, parent)
      }
      val prevProp = sc.getLocalProperty(SpanKey)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prevProp)
        addSpan(Span(id, parent, 0L, name, start, end))
      }
    }

  /** Add an externally timed span (a streaming trigger) under `parent`. */
  def addExternal(name: String, parent: Long, startMs: Double, endMs: Double): Unit =
    if (traced && parent != 0L)
      addSpan(Span(ids.incrementAndGet(), parent, 0L, name, startMs, endMs))

  /** All spans, with each job moved under the streaming trigger that was
    * running when it started (the stream thread only carries the fold
    * call's span, not the trigger's). */
  def allSpans: Seq[Span] = listener.synchronized {
    val triggers = spans.filter(_.name.startsWith("trigger:")).groupBy(_.parent)
    spans.toSeq.map { s =>
      if (!s.name.startsWith("job:")) s
      else triggers.get(s.parent)
        .flatMap(_.find(t => s.startMs >= t.startMs && s.startMs < t.endMs))
        .map(t => s.copy(parent = t.id)).getOrElse(s)
    }.sortBy(_.startMs)
  }
}

object Probe {
  /** The layer a span belongs to, from its name. */
  def layer(name: String): String = name.takeWhile(c => c != ':' && c != '.') match {
    case "op" | "step" | "fold" | "pass" => "bench"
    case "action" | "job" | "stage" => "spark"
    case "trigger" => "streaming"
    case other => other
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cur._1.isNaN) cur = (a, b)
        else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
        else { covered += cur._2 - cur._1; cur = (a, b) }
      }
      if (!cur._1.isNaN) covered += cur._2 - cur._1
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }
}

/** Heap and directory measurements. */
object Sys {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private val heapNames = heapPools.map(_.getName).toSet
  @volatile private var peakLive = 0L
  private var collections = 0L

  // Heap occupancy right after each collection: what the run holds, not
  // the garbage it has yet to collect (which tracks GC timing instead).
  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, h: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapNames(k) => v.getUsed }.sum
        Sys.synchronized {
          if (live > peakLive) peakLive = live
          collections += 1
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(gcListener, null, null))

  def resetPeakHeap(): Unit = Sys.synchronized { peakLive = 0L }

  /** Peak heap in use after a collection since the last reset, in MB;
    * a collection at the end makes sure there is at least one sample. */
  def peakHeapMb: Double = {
    val seen = Sys.synchronized(collections)
    System.gc()
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (Sys.synchronized(collections) == seen && System.nanoTime() < deadline)
      Thread.sleep(2)
    val peak: Long = Sys.synchronized(peakLive)
    peak.toDouble / Work.Mb
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def files(root: java.io.File): Seq[java.io.File] =
    if (!root.exists()) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles()).toSeq.flatten.flatMap(files)

  def dirs(root: java.io.File): Seq[java.io.File] =
    if (!root.isDirectory) Nil
    else {
      val ds = Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      ds ++ ds.flatMap(dirs)
    }

  def bytes(root: java.io.File): Long = files(root).map(_.length).sum

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
