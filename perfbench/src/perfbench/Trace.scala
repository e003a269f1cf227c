package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    failedTasks: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, spill + o.spill,
    failedTasks + o.failedTasks)
}

/** A traced interval: a call into one layer, or a step inside it.
  * `steps` are the call's manifest-attributed sub-intervals, ordered. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long) {
  var endMs: Long = -1L
  var steps: Seq[(String, Long, Long)] = Nil
}

/** Records spans around the benchmark's calls into the program and
  * attributes Spark jobs and task metrics to them from outside, with a
  * listener. Each span sets a job-local property, so a job started by the
  * calling thread is attributed exactly; a job started by another thread
  * goes to the innermost span open at its start time. Inside a span with
  * steps, a job goes to the first step not yet ended when it started.
  *
  * With tracing off, `span` only runs its body: no listener, no property. */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private final case class JobEv(time: Long, span: Int, stages: Seq[Int])
  private final case class TaskEv(stage: Int, w: Work)
  private val jobEvs = new ConcurrentLinkedQueue[JobEv]()
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tag = Option(j.properties).flatMap(p => Option(p.getProperty(Prop)))
      jobEvs.add(JobEv(j.time, tag.map(_.toInt).getOrElse(-1),
        j.stageInfos.map(_.stageId)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      val failed = t.reason != org.apache.spark.Success
      val w = if (m == null) Work(tasks = 1, failedTasks = if (failed) 1 else 0)
        else Work(0, 1, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, if (failed) 1 else 0)
      taskEvs.add(TaskEv(t.stageId, w))
    }
  }
  private var attached = false
  def attach(): Unit = if (enabled && !attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }
  attach()

  def drain(): Unit = if (attached) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def span[A](name: String)(body: => A): A = spanWith(name)(body)._1

  private var paused = false
  /** Runs `body` with spans off (the listener stays as it is). */
  def untraced[A](body: => A): A = {
    paused = true
    try body finally paused = false
  }

  /** Runs `body` in a span and returns the span too (null when off). */
  def spanWith[A](name: String)(body: => A): (A, Span) =
    if (!enabled || paused) (body, null)
    else {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      spans += s
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      open = s :: open
      try (body, s)
      finally {
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Work per span id (self only, not children) and per (span id, step). */
  def attribute(): (Map[Int, Work], Map[(Int, String), Work]) = {
    drain()
    val jobs = jobEvs.asScala.toVector
    def innermostAt(t: Long): Int = spans.filter(s => s.startMs <= t &&
      (s.endMs < 0 || t <= s.endMs)).lastOption.map(_.id).getOrElse(-1)
    val jobOwner = jobs.map { j =>
      val sid = if (j.span >= 0) j.span else innermostAt(j.time)
      val step = if (sid < 0) "" else spans(sid).steps
        .find(_._3 > j.time).map(_._1).getOrElse("")
      (j, sid, step)
    }
    val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
    jobOwner.sortBy(_._1.time).foreach { case (j, sid, step) =>
      j.stages.foreach(st => if (!stageOwner.contains(st)) stageOwner(st) = (sid, step))
    }
    val bySpan = mutable.HashMap.empty[Int, Work].withDefaultValue(Work())
    val byStep = mutable.HashMap.empty[(Int, String), Work].withDefaultValue(Work())
    def add(sid: Int, step: String, w: Work): Unit = {
      bySpan(sid) = bySpan(sid) + w
      if (step.nonEmpty) byStep((sid, step)) = byStep((sid, step)) + w
    }
    jobOwner.foreach { case (_, sid, step) => add(sid, step, Work(jobs = 1)) }
    taskEvs.asScala.foreach { t =>
      val (sid, step) = stageOwner.getOrElse(t.stage, (-1, ""))
      add(sid, step, t.w)
    }
    (bySpan.toMap, byStep.toMap)
  }

  /** All work seen, attributed or not. */
  def total(): Work = {
    drain()
    taskEvs.asScala.foldLeft(Work(jobs = jobEvs.size.toLong))((a, t) => a + t.w)
  }

  /** Spans as JSON lines, with their self work and steps. */
  def writeSpans(out: Path): Unit = {
    val (bySpan, byStep) = attribute()
    def w2j(w: Work) = f"""{"jobs":${w.jobs},"tasks":${w.tasks},""" +
      f""""cpu_ms":${w.cpuNs / 1e6}%.3f,"gc_ms":${w.gcMs},""" +
      f""""shuffle_write_bytes":${w.shuffleWrite},"spill_bytes":${w.spill},""" +
      f""""failed_tasks":${w.failedTasks}}"""
    val lines = spans.map { s =>
      val steps = s.steps.map { case (n, a, b) =>
        s"""{"name":"$n","start_ms":$a,"end_ms":$b,"work":${w2j(byStep.getOrElse((s.id, n), Work()))}}"""
      }.mkString("[", ",", "]")
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"work":${w2j(bySpan.getOrElse(s.id, Work()))},""" +
        s""""steps":$steps}"""
    }
    Files.createDirectories(out.getParent)
    Files.write(out, lines.asJava)
  }
}

/** Watches index manifests while a call runs and records when each record
  * first appears or changes. A step ends when its record is first seen:
  * the "first stage that has no manifest record yet" rule, from outside.
  * Polls every 2 ms; only used in traced runs. */
final class ManifestWatcher(dirs: Seq[String]) {
  private def read(dir: String): Map[String, String] =
    try new graft.checkpoint.Manifest(dir).read().map { case (k, v) => k -> v.toString }.toMap
    catch { case _: Exception => Map.empty }
  private val last = mutable.HashMap.empty[(Int, String), String]
  private val mtimes = mutable.HashMap.empty[Int, Long]
  dirs.indices.foreach(i => read(dirs(i)).foreach { case (k, v) => last((i, k)) = v })
  /** (time ms, dir index, record name) of each change, in order. */
  val events = new ConcurrentLinkedQueue[(Long, Int, String)]()
  @volatile private var running = true

  private def poll(): Unit = dirs.indices.foreach { i =>
    val p = java.nio.file.Paths.get(dirs(i), "manifest.json")
    val mt = try Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => -1L }
    if (mt >= 0 && !mtimes.get(i).contains(mt)) {
      mtimes(i) = mt
      val now = System.currentTimeMillis()
      read(dirs(i)).foreach { case (k, v) =>
        if (!last.get((i, k)).contains(v)) { last((i, k)) = v; events.add((now, i, k)) }
      }
    }
  }
  private val thread = new Thread(() => {
    while (running) { poll(); Thread.sleep(2) }
  }, "perfbench-manifest-watcher")
  thread.setDaemon(true)
  thread.start()

  /** Stops watching; returns (step, start, end) for `steps`, each given as
    * (name, dir index, record-name test), from `startMs` to `endMs`. A step
    * whose record never changed is empty; time after the last step goes
    * to "other". */
  def stop(startMs: Long, endMs: Long,
      steps: Seq[(String, Int, String => Boolean)]): Seq[(String, Long, Long)] = {
    running = false
    thread.join()
    poll()
    val evs = events.asScala.toVector
    var from = startMs
    var cursor = 0
    val out = steps.map { case (name, dir, test) =>
      val hit = evs.indexWhere(e => e._2 == dir && test(e._3), cursor)
      val end = if (hit >= 0) { cursor = hit; evs(hit)._1 } else from
      val s = (name, from, end)
      from = end
      s
    }
    out :+ (("other", from, endMs))
  }
}
