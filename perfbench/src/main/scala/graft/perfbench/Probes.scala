package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark engine work, attributed from outside the program through the
  * public `SparkListener`: every job counts under the streaming query
  * that ran it (`q:<query id>`) and under its job group (`g:<group>`),
  * and its tasks' metrics follow the job's stages.
  */
final class EngineProbe extends SparkListener {
  final class Acc {
    val jobs, tasks, shuffleRead, shuffleWrite, spill, gcMs = new AtomicLong(0L)
    def snapshot: EngineProbe.Totals = EngineProbe.Totals(jobs.get, tasks.get,
      shuffleRead.get, shuffleWrite.get, spill.get, gcMs.get)
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()

  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val keys = Seq(
      p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).map("q:" + _),
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).map("g:" + _)).flatten
    keys.foreach(acc(_).jobs.incrementAndGet())
    e.stageIds.foreach(stageKeys.put(_, keys))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageKeys.getOrDefault(e.stageId, Nil).foreach { k =>
      val a = acc(k)
      a.tasks.incrementAndGet()
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def totals(key: String): EngineProbe.Totals =
    Option(accs.get(key)).map(_.snapshot).getOrElse(EngineProbe.Totals(0, 0, 0, 0, 0, 0))
}

object EngineProbe {
  final case class Totals(jobs: Long, tasks: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      spill - o.spill, gcMs - o.gcMs)
  }
}

/** Micro-batch progress from the public `StreamingQueryListener`. */
final class StreamProbe extends StreamingQueryListener {
  import StreamProbe.Batch
  private val all = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    all.add(Batch(Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      ms("triggerExecution"), ms("addBatch"), ms("queryPlanning"),
      ms("walCommit") + ms("commitOffsets"), System.nanoTime()))
  }

  /** Batches of query `name` that carried rows. */
  def batchesOf(name: String): Seq[Batch] =
    all.asScala.filter(b => b.query == name && b.inputRows > 0).toSeq

  /** Batches of any query that carried rows, reported in [from, to]. */
  def batches(from: Long, to: Long): Seq[Batch] =
    all.asScala.filter(b => b.inputRows > 0 && b.reportedNanos >= from &&
      b.reportedNanos <= to).toSeq

  def startMillis(name: String): Map[Long, Long] =
    all.asScala.filter(_.query == name).map(b => b.batchId -> b.startMs).toMap
}

object StreamProbe {
  final case class Batch(query: String, batchId: Long, startMs: Long, inputRows: Long,
      triggerMs: Long, addBatchMs: Long, planningMs: Long, commitMs: Long,
      reportedNanos: Long)
}

/** Both probes, registered on a session for the whole run. */
final class Probes(spark: SparkSession) {
  val engine = new EngineProbe
  val stream = new StreamProbe
  spark.sparkContext.addSparkListener(engine)
  spark.streams.addListener(stream)

  /** Epoch-ms → nanoTime offset, for placing progress timestamps on the
    * benchmark's monotonic clock (±1 ms). */
  val epochToNanos: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def queryId(name: String): String =
    spark.streams.active.find(_.name == name).map(_.id.toString).getOrElse("")

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(stream)
  }
}
