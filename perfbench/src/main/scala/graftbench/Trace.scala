package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.scheduler._

/** Spans taken around the benchmark's calls into the engine, plus the Spark
  * work each span caused.
  *
  * Attribution: a span sets the local property [[Trace.Key]] on the calling
  * thread, and a job is charged to the span named by its property. Jobs
  * submitted from pooled threads (`StarSchemaJob.run` writes its dims on
  * `ExecutionContext.global`) carry no property, or a stale one inherited
  * when the pool thread was created; those are charged to the innermost
  * span open when the job started (the benchmark has one client thread, so
  * that span is unambiguous), and counted as window-attributed. A job that
  * starts while no span is open is charged to an `unattributed` row.
  * Stages follow the first job that lists them, tasks follow their stage.
  *
  * With `enabled = false` spans only run their body: no listener, no
  * property, no events.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val events = new Events
  if (enabled) sc.addSparkListener(events)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.caches = graft.ops.InternalCaches.size
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Every span so far with its own and inclusive counters. Drains the
    * listener bus first, so every event of a finished job is counted. */
  def summary(): Summary = {
    if (enabled) GraftSqlShim.drainListenerBus(spark)
    val all = spans.toVector
    val (jobs, stageJobs, tasks, stagesDone) = events.snapshot()
    def innermost(t: Long): Option[Span] =
      all.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.id).headOption
    // slot all.size is the unattributed row
    val own = Array.fill(all.size + 1)(new Counters)
    var byProperty, byWindow = 0
    val jobOwner = mutable.Map.empty[Int, Int]
    jobs.foreach { j =>
      val owner = innermost(j.startMs).map(_.id)
      val slot = owner.getOrElse(all.size)
      owner.foreach(o => if (j.prop.contains(o)) byProperty += 1 else byWindow += 1)
      jobOwner(j.id) = slot
      val c = own(slot)
      c.jobs += 1
      c.lastJobStartMs = math.max(c.lastJobStartMs, j.startMs)
      if (j.desc.startsWith("Listing leaf files")) {
        c.listingJobs += 1
        c.listingMs += math.max(0L, j.endMs - j.startMs)
      }
    }
    val stageOwner = stageJobs.map { case (st, job) => st -> jobOwner.getOrElse(job, all.size) }
    stagesDone.foreach(st => own(stageOwner.getOrElse(st, all.size)).stages += 1)
    tasks.foreach { t =>
      val c = own(stageOwner.getOrElse(t.stageId, all.size))
      c.tasks += 1
      c.taskMs += t.durMs
      c.gcMs += t.gcMs
      c.shuffleRead += t.shuffleRead
      c.shuffleWrite += t.shuffleWrite
      c.spill += t.spill
      c.lastTaskEndMs = math.max(c.lastTaskEndMs, t.finishMs)
    }
    val children = all.groupBy(_.parent)
    def inclusive(s: Span): Counters =
      children.getOrElse(Some(s.id), Vector.empty).foldLeft(own(s.id).copy)(
        (acc, ch) => acc.add(inclusive(ch)))
    Summary(all.map(s => SpanStat(s, own(s.id), inclusive(s))), own(all.size),
      byProperty, byWindow)
  }
}

object Trace {
  val Key = "graftbench.span"

  final class Span(val id: Int, val name: String, val parent: Option[Int],
                   val startMs: Long, val startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = 0L
    var caches: Int = 0
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spark work charged to a span. Task times are kept whole so the
    * median and maximum (task skew) can be taken. */
  final class Counters {
    var jobs, stages, tasks, listingJobs = 0L
    var listingMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var lastTaskEndMs, lastJobStartMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def copy: Counters = new Counters().add(this)
    def add(o: Counters): Counters = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      listingJobs += o.listingJobs; listingMs += o.listingMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      lastTaskEndMs = math.max(lastTaskEndMs, o.lastTaskEndMs)
      lastJobStartMs = math.max(lastJobStartMs, o.lastJobStartMs)
      taskMs ++= o.taskMs
      this
    }
    def taskMaxMs: Long = if (taskMs.isEmpty) 0L else taskMs.max
    def taskP50Ms: Double = Stats.median(taskMs.map(_.toDouble).toSeq)
  }

  final case class SpanStat(span: Span, own: Counters, incl: Counters) {
    /** Time from the span's last task end to the span's end: for a span
      * around a write call, the job commit that follows its tasks. */
    def tailMs: Long =
      if (incl.tasks == 0) 0L else math.max(0L, span.endMs - incl.lastTaskEndMs)
    /** Time from the start of the span's last job to the span's end: for a
      * span around a write call, the write job and its commit, without the
      * jobs that compute the written frame's inputs. */
    def lastJobMs: Long =
      if (incl.jobs == 0) 0L else math.max(0L, span.endMs - incl.lastJobStartMs)
  }

  final case class Summary(spans: Vector[SpanStat], unattributed: Counters,
                           jobsByProperty: Int, jobsByWindow: Int) {
    def descendants(root: SpanStat): Vector[SpanStat] = {
      val ids = mutable.Set(root.span.id)
      spans.filter { s =>
        s.span.id > root.span.id && s.span.parent.exists(ids) && { ids += s.span.id; true }
      }
    }
  }

  private final case class Job(id: Int, prop: Option[Int], startMs: Long,
                               var endMs: Long, desc: String)
  private final case class Task(stageId: Int, finishMs: Long, durMs: Long,
                                gcMs: Long, shuffleRead: Long,
                                shuffleWrite: Long, spill: Long)

  /** Raw listener events; attribution happens in [[Trace.summary]]. */
  private final class Events extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJobs = mutable.Map.empty[Int, Int]
    private val tasks = mutable.ArrayBuffer.empty[Task]
    private val stagesDone = mutable.ArrayBuffer.empty[Int]

    def snapshot(): (Vector[Job], Map[Int, Int], Vector[Task], Vector[Int]) =
      synchronized((jobs.values.toVector, stageJobs.toMap, tasks.toVector, stagesDone.toVector))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val prop = props.flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop, e.time, e.time, desc)
      e.stageIds.foreach(st => if (!stageJobs.contains(st)) stageJobs(st) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagesDone += e.stageInfo.stageId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.finishTime,
        e.taskInfo.duration, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
