package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of the jobs one span caused. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputRows = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var taskSkewMax = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    inputRows += o.inputRows; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    taskSkewMax = math.max(taskSkewMax, o.taskSkewMax)
  }
}

/** A timed interval: the workload, one op, a call into a layer, or a Spark
  * job the listener attributed to the call in progress. Times are
  * milliseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** In-memory span recorder for the traced run. Each call into a layer runs
  * inside [[span]], which sets the `graftbench.span` local property on the
  * calling thread; the listener reads it from every job it sees and charges
  * the job's stages and tasks to that span. With `enabled = false` a span
  * is just the call: no property, no listener, no record. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "graftbench.span"
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6
  // wall-clock origin of t0, to place listener event times on the same axis
  private val wall0 = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L

  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[Int, Counters]()
  private var stack: List[Int] = Nil
  private var nextId = 1

  private val jobSpan = mutable.HashMap[Int, Int]()      // job → its own span
  private val execSite = mutable.HashMap[Long, String]() // SQL execution → program frames
  private val stageOwner = mutable.HashMap[Int, Int]()   // stage → job span
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(0)
      if (owner != 0) {
        val sid = nextId; nextId += 1
        jobSpan(e.jobId) = sid
        e.stageIds.foreach(s => stageOwner(s) = sid)
        counters.getOrElseUpdate(sid, new Counters).jobs += 1
        // jobs that adaptive execution or a broadcast submits from a pool
        // thread carry no program frames: name them by their SQL execution
        val site = e.stageInfos.headOption.map(s => Tracer.programFrames(s.details))
          .filter(_.nonEmpty)
          .orElse(Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => execSite.get(id.toLong)))
          .getOrElse("?")
        spans += Span(sid, owner, s"spark.job $site", e.time - wall0, e.time - wall0)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val frames = Tracer.programFrames(x.details)
        if (frames.nonEmpty) lock.synchronized { execSite(x.executionId) = frames }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.get(e.jobId).foreach { sid =>
        val i = spans.lastIndexWhere(_.id == sid)
        if (i >= 0) spans(i) = spans(i).copy(end = e.time - wall0)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOwner.get(e.stageId).foreach { owner =>
        val c = counters.getOrElseUpdate(owner, new Counters)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputRows += m.inputMetrics.recordsRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.executorCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          val info = e.taskInfo
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val sid = e.stageInfo.stageId
      stageOwner.get(sid).foreach { owner =>
        val c = counters.getOrElseUpdate(owner, new Counters)
        c.stages += 1
        stageTaskMs.remove(sid).filter(_.size > 1).foreach { ts =>
          val sorted = ts.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          c.taskSkewMax = math.max(c.taskSkewMax, sorted.last.toDouble / med)
        }
      }
    }
  }
  private val lock = new Object
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` as a child span of the span in progress. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val (id, parent, start) = lock.synchronized {
      val id = nextId; nextId += 1
      (id, stack.headOption.getOrElse(0), nowMs)
    }
    val prev = sc.getLocalProperty(Prop)
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    try f
    finally {
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
      lock.synchronized { spans += Span(id, parent, name, start, nowMs) }
    }
  }

  /** Drain the listener bus, then freeze the spans and counters. */
  def finish(): Trace = {
    if (enabled) {
      org.apache.spark.GraftBenchBus.flush(sc)
      sc.removeSparkListener(listener)
    }
    lock.synchronized { new Trace(spans.toVector, counters.toMap) }
  }
}

object Tracer {
  private val Frame = """(graft\.[A-Za-z0-9_.$]+)\(""".r

  /** The program's methods on a job's call stack, innermost first: the
    * name a job span carries, so its cost can be charged to the method
    * inside a layer call that submitted it. */
  def programFrames(stack: String): String =
    Frame.findAllMatchIn(Option(stack).getOrElse("")).map(_.group(1).replace("$", ""))
      .toSeq.distinct.take(4).mkString(" < ")
}

/** The spans of one traced run, with the counters charged to each. */
final class Trace(val spans: Vector[Span], own: Map[Int, Counters]) {
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  /** Counters of a span and every span under it. */
  def subtree(id: Int): Counters = {
    val c = new Counters
    def go(i: Int): Unit = {
      own.get(i).foreach(c.add)
      children.getOrElse(i, Vector.empty).foreach(s => go(s.id))
    }
    go(id)
    c
  }

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** This trace without the spans under a `warmup` span. */
  def timedOnly: Trace = {
    val warm = spans.filter(_.name == "warmup").flatMap(w => w +: descendants(w.id)).map(_.id).toSet
    new Trace(spans.filterNot(s => warm(s.id)), own.filter { case (id, _) => !warm(id) })
  }

  def descendants(id: Int): Vector[Span] =
    children.getOrElse(id, Vector.empty).flatMap(s => s +: descendants(s.id))

  /** Counters summed over every span with this name (nested ones once). */
  def total(name: String): Counters = {
    val c = new Counters
    val ids = named(name).map(_.id).toSet
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    def nested(i: Int): Boolean = {
      var p = parentOf.getOrElse(i, 0)
      while (p != 0) { if (ids(p)) return true; p = parentOf.getOrElse(p, 0) }
      false
    }
    ids.filterNot(nested).foreach(i => c.add(subtree(i)))
    c
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Vector.empty)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (s.end - s.start) - covered
  }

  /** Spans as JSON lines: name, start, end, parent id and self time. */
  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":${HnGen.jsonString(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f}"""
  }
}
