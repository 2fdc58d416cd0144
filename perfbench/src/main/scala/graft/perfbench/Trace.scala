package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** One span of the traced run: workload, pass, op, call (one call into a
  * layer's public function) or job. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String, layer: String,
    start: Double, end: Double, fields: Map[String, Double] = Map.empty)

/** Task figures of one Spark job. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = -1L
  var ok = true
  val stages = mutable.Set.empty[Int]
  var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** The traced run's listener: every job with its job group, and the task
  * metrics of the stages it ran. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += e.stageId
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def drainJobs(): Seq[JobRec] = synchronized {
    val out = jobs.values.toVector
    jobs.clear(); stageJob.clear()
    out
  }
}

/** Shuffle and spill bytes written: the one task figure the untraced run
  * keeps, for `write_amp`. */
final class BytesListener extends SparkListener {
  val written = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) written.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled)
  }
}

/** Span store and clock of the traced run. */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new JobListener
  private var last = 0L
  def newId(): Long = { last += 1; last }
  private val (baseMs, baseNs) = (System.currentTimeMillis().toDouble, System.nanoTime())
  /** Epoch milliseconds at nanosecond resolution, on the clock the
    * listener's job times use. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** What an op body sees: layer calls (spans and job groups when traced)
  * and the sinks that drain outputs while their digests are observed. */
final class Ctx(spark: SparkSession, tracer: Option[Tracer], opSpan: Long) {
  private val observed = mutable.ArrayBuffer.empty[(String, Observation)]
  private val kept = mutable.ArrayBuffer.empty[(String, DataFrame)]

  def call[T](layer: String, fn: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val id = t.newId()
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb-$id", fn, interruptOnCancel = false)
      val start = t.now()
      var failed = 1.0
      try { val r = body; failed = 0.0; r }
      finally {
        t.spans += Span(id, opSpan, "call", fn, layer, start, t.now(), Map("failed" -> failed))
        sc.clearJobGroup()
      }
  }

  /** Drain `df`'s whole output to the noop sink; its row count and hash
    * ride along as observed metrics of the same execution. */
  def drain(key: String, df: DataFrame): Unit = {
    val obs = Observation()
    val aggs = Stats.hashAggs(df.schema)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    observed += key -> obs
  }

  /** An output the op already materialized (a checkpoint); its digest is
    * computed after the clock stops. */
  def record(key: String, df: DataFrame): Unit = kept += key -> df

  /** (rows, hash) per output key. Called after the op's clock stops. */
  def digests(): Map[String, (Long, String)] =
    observed.map { case (k, o) =>
      val r = Await.result(o.future, 120.seconds)
      k -> Stats.digestOf(r.getLong(0), Option(r.get(1)), Option(r.get(2)))
    }.toMap ++ kept.map { case (k, df) => k -> Stats.digest(df) }
}
