package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local file system that counts the create / rename / delete calls the
  * engine makes. The traced run installs it as `fs.file.impl`; counting
  * is on only while a traced round runs.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  private def count(c: AtomicLong): Unit = if (enabled) c.incrementAndGet()

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    count(creates)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable) = {
    count(creates)
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(renames)
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(deletes)
    super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  @volatile var enabled = false
  val creates, renames, deletes = new AtomicLong
}

/** Per-op counters. Spark's listener bus fills them asynchronously;
  * read them only after [[Tracer.drain]].
  */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, schedDelayMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var planningMs = 0L
  val jobStart = mutable.Map[Int, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var fsCreates, fsRenames, fsDeletes, bytesWritten = 0L
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
}

/** One timed call into the library. */
final case class Span(id: Int, kind: String, layer: String, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** The benchmark's own view of the engine: a SparkListener that charges
  * every job, stage and task to the op that submitted it, a
  * QueryExecutionListener
  * for Catalyst phase times, a StreamingQueryListener for micro-batch
  * phases, and Hadoop's local-FS counters. Everything is kept in memory
  * and rolled up per layer when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = TrieMap[Int, OpCounters]()
  @volatile private var open = -1
  @volatile private var openStartMs = 0L
  private var fsAtOpen = (0L, 0L, 0L, 0L)
  private val stageOp = TrieMap[Int, Int]()
  private val queryOp = TrieMap[java.util.UUID, Int]()
  private val pendingProgress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var on = false

  /** The op running at wall time `ms`. Ops run one at a time on the
    * client thread, so time decides; the job group is not enough
    * because threads of a shared pool keep the group of the op that
    * first spawned them.
    */
  private def opAt(ms: Long): Int =
    if (open >= 0 && ms >= openStartMs) open
    else spans.synchronized(spans.find(s => s.startMs <= ms && ms <= s.endMs)).map(_.id).getOrElse(open)

  private def at(op: Int): Option[OpCounters] =
    if (op < 0) None else Some(counters.getOrElseUpdate(op, new OpCounters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opAt(e.time)
      at(op).foreach { c =>
        c.synchronized { c.jobs += 1; c.jobStart(e.jobId) = e.time }
        e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counters.values.foreach { c =>
      c.synchronized(c.jobStart.remove(e.jobId).foreach(s => c.jobIntervals += ((s, e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).flatMap(at).foreach(c => c.synchronized(c.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).flatMap(at).foreach { c =>
        val m = e.taskMetrics
        val i = e.taskInfo
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val ms = phases.values.map(_.durationMs).sum
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      at(opAt(start)).foreach(c => c.synchronized(c.planningMs += ms))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      pendingProgress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def fsNow: (Long, Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val written = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    (CountingLocalFileSystem.creates.get, CountingLocalFileSystem.renames.get,
      CountingLocalFileSystem.deletes.get, written)
  }

  def tracing: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    CountingLocalFileSystem.enabled = true
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    CountingLocalFileSystem.enabled = false
    on = false
  }

  /** Wait until Spark has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def opened(id: Int): Unit = if (on) {
    fsAtOpen = fsNow
    openStartMs = System.currentTimeMillis()
    open = id
  }

  def closed(id: Int, kind: String, layer: String): Unit = if (on) {
    val end = System.currentTimeMillis()
    val (c0, r0, d0, w0) = fsAtOpen
    val (c1, r1, d1, w1) = fsNow
    at(id).foreach { c => c.synchronized {
      c.fsCreates += c1 - c0; c.fsRenames += r1 - r0
      c.fsDeletes += d1 - d0; c.bytesWritten += w1 - w0
    } }
    spans.synchronized(spans += Span(id, kind, layer, openStartMs, end))
    open = -1
  }

  def streamStarted(id: java.util.UUID, op: Int): Unit = queryOp(id) = op

  /** Attach buffered stream progress to the ops that started the queries. */
  def settle(): Unit = {
    drain()
    var p = pendingProgress.poll()
    while (p != null) {
      queryOp.get(p.id).flatMap(at).foreach(c => c.synchronized(c.progress += p))
      p = pendingProgress.poll()
    }
  }
}
