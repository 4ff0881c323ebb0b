package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the engine, around the calls into each
  * layer's public functions.
  *
  * Every span runs its body under its own Spark job group, so the
  * [[SparkListener]] below can attribute jobs and task metrics to it; a
  * [[QueryExecutionListener]] collects the `observe` metrics the engine's
  * `Salting` attaches (dropped LSH/SimHash buckets). Spans live in memory
  * and are summarised when the run ends. A span's numbers include its child
  * spans.
  */
final class Tracer(spark: SparkSession, traceId: String) {

  final case class Span(id: Int, name: String, parent: Int, group: String,
                        startMs: Long, endMs: Long, wallS: Double,
                        rowsOut: Long, cachedMb: Double,
                        observations: Seq[(String, Row)])

  private final class TaskAgg {
    var execMs = 0L; var inputBytes = 0L; var shuffleBytes = 0L
  }

  private val sc = spark.sparkContext
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[String, TaskAgg]()
  // (group, start ms, end ms) per finished job
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val observed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Row)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        e.stageIds.foreach(s => stageGroup.put(s, g))
        jobStart.put(e.jobId, (g, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobs.add((g, t0, e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val a = tasks.computeIfAbsent(g, _ => new TaskAgg)
        a.synchronized {
          a.execMs += m.executorRunTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (n, r) => observed.add((n, r)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var pendingRows = -1L

  /** Record the number of rows the current span's result holds. */
  def rows(n: Long): Unit = pendingRows = n

  def span[T](name: String)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val group = s"$traceId-$id"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack = id :: stack
    pendingRows = -1L
    val drainedBefore = { drain(); observed.size() }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val rowsOut = pendingRows
      pendingRows = -1L
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      stack = stack.tail
      drain()
      val obs = observed.toArray(Array.empty[(String, Row)]).toSeq.drop(drainedBefore)
      spans += Span(id, name, parent, group, t0ms, t1ms, wall, rowsOut,
        cachedMb(), obs)
    }
  }

  private def drain(): Unit = org.apache.spark.perfbenchshim.ListenerBusShim.drain(sc)

  /** Bytes the block manager holds for persisted RDDs, in MB. */
  private def cachedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Span ids of `s` and all its descendants. */
  private def subtree(s: Span): Set[String] = {
    val kids = spans.filter(_.parent == s.id)
    kids.foldLeft(Set(s.group))((acc, k) => acc ++ subtree(k))
  }

  final case class SpanStats(wallS: Double, driverS: Double, execS: Double,
                             jobs: Long, rowsOut: Long, inputMb: Double,
                             shuffleMb: Double, cachedMb: Double)

  def stats(s: Span): SpanStats = {
    val groups = subtree(s)
    val js = jobs.toArray(Array.empty[(String, Long, Long)]).toSeq
      .filter(j => groups(j._1))
    // union of the span's job intervals, clipped to the span
    val covered = js.map { case (_, a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (a >= reach) (acc + (b - a), b)
        else if (b > reach) (acc + (b - reach), b)
        else (acc, reach)
      }._1
    val t = groups.toSeq.flatMap(g => Option(tasks.get(g)))
    SpanStats(
      wallS = s.wallS,
      driverS = math.max(0.0, s.wallS - covered / 1e3),
      execS = t.map(_.execMs).sum / 1e3,
      jobs = js.size.toLong,
      rowsOut = math.max(0L, s.rowsOut),
      inputMb = t.map(_.inputBytes).sum / 1e6,
      shuffleMb = t.map(_.shuffleBytes).sum / 1e6,
      cachedMb = s.cachedMb)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Summed stats of every span called `name` (zeros when it never ran). */
  def total(name: String): SpanStats = {
    val ss = named(name).map(stats)
    SpanStats(ss.map(_.wallS).sum, ss.map(_.driverS).sum, ss.map(_.execS).sum,
      ss.map(_.jobs).sum, ss.map(_.rowsOut).sum, ss.map(_.inputMb).sum,
      ss.map(_.shuffleMb).sum, ss.lastOption.map(_.cachedMb).getOrElse(0.0))
  }

  /** Every span as one JSON line (name, start, end, parent, trace id). */
  def jsonLines: Seq[String] = spans.toSeq.sortBy(_.id).map { s =>
    val st = stats(s)
    s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${st.wallS},""" +
      s""""driver_s":${st.driverS},"exec_s":${st.execS},"jobs":${st.jobs},""" +
      s""""rows_out":${st.rowsOut}}"""
  }
}
