package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Per-entry probe for plan work:
  * `runMain graft.tools.Probe <entry>[,entry...] [sfDir] [passes] [planDir]`
  * (defaults sf0.1, 3 passes). Each pass prints the DataFrame build,
  * Catalyst planning (analysis through physical planning) and execution
  * seconds, plus the shuffle bytes written and read. Execution
  * materialises the FULL output (`queryExecution.toRdd`, every column
  * as Verify's parquet write sees it): `count()` lets Catalyst drop
  * unreferenced window/computed columns and the exchanges feeding them
  * (j2_asof_join's join shuffle never runs under `count()`). With
  * `planDir`, the formatted physical plan of each entry's last pass is
  * written to `<planDir>/<entry>.txt`. Exits 1 if any entry throws.
  */
object Probe {
  final case class Pass(rows: Long, buildS: Double, planS: Double, execS: Double,
      shuffleWrite: Long, shuffleRead: Long) {
    def totalS: Double = buildS + planS + execS
  }

  /** Sums task shuffle bytes from the listener bus. `settle` makes the
    * async bus deterministic: it runs a one-task marker job and waits
    * until that job's end event arrives, by which point every earlier
    * event (the measured tasks) has been delivered.
    */
  final class ShuffleMeter(spark: SparkSession) extends SparkListener {
    private val MarkerGroup = "graft-probe-marker"
    val written, read = new AtomicLong
    @volatile private var markerJob = -1
    @volatile private var markerDone = new CountDownLatch(1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == MarkerGroup))
        markerJob = e.jobId
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone.countDown()

    def settle(): Unit = {
      markerDone = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setJobGroup(MarkerGroup, "probe listener-bus barrier")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(markerDone.await(60, TimeUnit.SECONDS), "listener bus did not settle")
    }
    def reset(): Unit = { settle(); written.set(0); read.set(0) }
  }

  /** The one timed action of every catalog measurement (Probe, Bench,
    * ScaleSmoke): materialise the FULL output and return its row count.
    * `count()` would let Catalyst prune unreferenced columns and the
    * exchanges feeding them. */
  def fullOutputRows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One pass of `fn`: build, plan and full-output execution, timed
    * separately; the returned frame is the one that ran. */
  def measure(spark: SparkSession, meter: ShuffleMeter,
      fn: (SparkSession, String) => DataFrame, sfDir: String): (Pass, DataFrame) = {
    meter.reset()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = fullOutputRows(df)
    val t3 = System.nanoTime()
    meter.settle()
    (Pass(rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      meter.written.get, meter.read.get), df)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <entry>[,entry...] [sfDir] [passes] [planDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val planDir = args.lift(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-probe", cpus.toInt)
    val meter = new ShuffleMeter(spark)
    spark.sparkContext.addSparkListener(meter)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val failed = names.filterNot { name =>
      try {
        val fn = graft.SparkEntry.queries(name)
        val runs = (1 to passes).map { p =>
          val (r, df) = measure(spark, meter, fn, sfDir)
          println(f"$name pass=$p rows=${r.rows}%d build=${r.buildS}%.3f " +
            f"plan=${r.planS}%.3f exec=${r.execS}%.3f total=${r.totalS}%.3f s " +
            f"shuffle_write=${r.shuffleWrite}%d shuffle_read=${r.shuffleRead}%d")
          if (p == passes) planDir.foreach { d =>
            Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode))
          }
          spark.catalog.clearCache()
          r
        }
        println(f"$name min total=${runs.map(_.totalS).min}%.3f s")
        true
      } catch {
        case NonFatal(e) =>
          println(s"$name FAILED: $e")
          spark.catalog.clearCache()
          false
      }
    }
    spark.stop()
    graft.core.Scratch.sweep()
    if (failed.nonEmpty) {
      System.err.println(s"failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
