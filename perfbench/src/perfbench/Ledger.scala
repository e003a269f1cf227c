package perfbench

import scala.collection.mutable

import graft.checkpoint.Manifest
import graft.model.SourceFile

/** What a workload hands to the per-layer ledger besides its spans. */
final class Facts {
  var buildInputBytes = 0L
  var buildStageMs: Map[String, Double] = Map.empty
  def buildWalls(m: Manifest, contentBytes: Long): Unit = {
    val recs = m.read()
    buildInputBytes = contentBytes
    buildStageMs = Build.Stages.map(s => s -> recs.get(s).map(_.wallMs.toDouble).getOrElse(0.0)).toMap
  }
  val blocksAdded = mutable.ArrayBuffer.empty[Double]
  val recordsAdded = mutable.ArrayBuffer.empty[Double]
  val filesAdded = mutable.ArrayBuffer.empty[Double]
  val filesRemoved = mutable.ArrayBuffer.empty[Double]
  var manifestKb = 0.0
  var sentinelStart = 0.0
  var sentinelMid = 0.0
  var sentinelEnd = 0.0
  var sample: Seq[SourceFile] = Nil
  /** Re-serves a fixed slice of the stream; timed with tracing on and off. */
  var replay: () => Unit = () => ()
}

/** The per-layer metrics of a traced run, named by module. Every name is
  * printed on every workload; a layer the workload does not exercise
  * reads 0. */
object Ledger {
  val RefreshSteps: Seq[String] =
    Seq("subbuild", "vocab", "docs", "postings", "lexicon", "positions", "tombstones", "other")
  val Ops: Seq[String] = Seq("ranked", "boolean", "phrase", "prefix")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  private val MB = 1024.0 * 1024.0

  def put(r: Run, f: Facts): Unit = {
    val t = r.tracer
    val (bySpan, byStep) = t.attribute()
    val spans = t.spans.toVector
    def named(n: String) = spans.filter(_.name == n)
    def wallS(s: Span) = (s.endMs - s.startMs) / 1000.0
    def work(s: Span) = bySpan.getOrElse(s.id, Work())
    def stepWork(s: Span, step: String) = byStep.getOrElse((s.id, step), Work())
    def stepS(s: Span, step: String) =
      s.steps.find(_._1 == step).map(x => (x._3 - x._2) / 1000.0).getOrElse(0.0)

    // index (build): the first build of the run, and its five stages
    val build = named("index.build").headOption
    r.put("index.build.wall_s", build.map { b =>
      // a table create also builds positions: its build ends at the lexicon record
      if (b.steps.exists(_._1 == "positions"))
        (b.steps.find(_._1 == "lexicon").get._3 - b.startMs) / 1000.0
      else wallS(b)
    }.getOrElse(0.0), "s")
    r.put("index.build.input_mb", f.buildInputBytes / 1e6, "MB")
    Build.Stages.foreach { st =>
      val w = build.map(stepWork(_, st)).getOrElse(Work())
      val p = s"index.build.$st"
      r.put(s"$p.wall_s", f.buildStageMs.getOrElse(st, 0.0) / 1000.0, "s")
      r.put(s"$p.jobs", w.jobs.toDouble, "count")
      r.put(s"$p.tasks", w.tasks.toDouble, "count")
      r.put(s"$p.cpu_s", w.cpuNs / 1e9, "s")
      r.put(s"$p.gc_s", w.gcMs / 1000.0, "s")
      r.put(s"$p.shuffle_write_mb", w.shuffleWrite / MB, "MB")
      r.put(s"$p.spill_mb", w.spill / MB, "MB")
    }
    val posS = named("index.positions").map(wallS) ++
      build.filter(_.steps.exists(_._1 == "positions")).map(stepS(_, "positions"))
    r.put("index.positions.wall_s", posS.headOption.getOrElse(0.0), "s")

    // index (refresh): means per refresh
    val refreshes = named("index.refresh")
    r.put("index.refresh.wall_s", mean(refreshes.map(wallS)), "s")
    r.put("index.refresh.jobs", mean(refreshes.map(work(_).jobs.toDouble)), "count")
    r.put("index.refresh.tasks", mean(refreshes.map(work(_).tasks.toDouble)), "count")
    r.put("index.refresh.shuffle_write_mb",
      mean(refreshes.map(work(_).shuffleWrite / MB)), "MB")
    RefreshSteps.foreach { st =>
      r.put(s"index.refresh.$st.wall_s", mean(refreshes.map(stepS(_, st))), "s")
      r.put(s"index.refresh.$st.jobs",
        mean(refreshes.map(stepWork(_, st).jobs.toDouble)), "count")
    }
    r.put("index.refresh.blocks_added", mean(f.blocksAdded.toSeq), "count")

    // index (compact)
    val compact = named("index.compact")
    r.put("index.compact.wall_s", compact.map(wallS).sum, "s")
    r.put("index.compact.jobs", compact.map(work(_).jobs.toDouble).sum, "count")
    r.put("index.compact.tasks", compact.map(work(_).tasks.toDouble).sum, "count")

    // analysis and codec: single-thread probes over a fixed document sample
    r.put("analysis.tokenize_mb_per_s", Layers.tokenizeMbPerS(f.sample), "MB/s")
    val (enc, dec, bpp) = Layers.codec(Layers.sampleBlocks(f.sample))
    r.put("codec.encode_mpostings_per_s", enc, "Mpostings/s")
    r.put("codec.decode_mpostings_per_s", dec, "Mpostings/s")
    r.put("codec.bytes_per_posting", bpp, "B")

    // query: per call, and the share of calls that started no Spark job
    Ops.foreach { op =>
      val calls = named(s"query.$op")
      val n = math.max(calls.length, 1).toDouble
      val ws = calls.map(work)
      r.put(s"query.$op.jobs_per_query", ws.map(_.jobs).sum / n, "count")
      r.put(s"query.$op.tasks_per_query", ws.map(_.tasks).sum / n, "count")
      r.put(s"query.$op.cpu_ms_per_query", ws.map(_.cpuNs).sum / 1e6 / n, "ms")
      r.put(s"query.$op.local_share", ws.count(_.jobs == 0) / n, "ratio")
    }
    r.put("query.open_ms", mean(named("query.open").map(wallS(_) * 1000.0)), "ms")
    // too few samples per run to gate end to end (see README)
    r.put("query.ranked.p95_ms", Stats.quantile(r.latMs("ranked").toSeq, 0.95), "ms")

    // sources (table DML) and checkpoint (index manifests)
    val dml = named("sources.dml")
    r.put("sources.dml_s", mean(dml.map(wallS)), "s")
    r.put("sources.dml_jobs", mean(dml.map(work(_).jobs.toDouble)), "count")
    r.put("sources.files_added", mean(f.filesAdded.toSeq), "count")
    r.put("sources.files_removed", mean(f.filesRemoved.toSeq), "count")
    r.put("checkpoint.records_per_refresh", mean(f.recordsAdded.toSeq), "count")
    r.put("checkpoint.manifest_kb", f.manifestKb, "KB")

    // Spark runtime over the whole run
    val all = t.total()
    val wall = Layers.nowS() - r.startS
    r.put("spark.jobs", all.jobs.toDouble, "count")
    r.put("spark.tasks", all.tasks.toDouble, "count")
    r.put("spark.task_cpu_s", all.cpuNs / 1e9, "s")
    r.put("spark.gc_s", all.gcMs / 1000.0, "s")
    r.put("spark.shuffle_write_mb", all.shuffleWrite / MB, "MB")
    r.put("spark.spill_mb", all.spill / MB, "MB")
    r.put("spark.failed_tasks", all.failedTasks.toDouble, "count")
    r.put("spark.cpu_busy_frac", all.cpuNs / 1e9 / (wall * r.cores), "ratio")

    r.put("host.sentinel_start_ms", f.sentinelStart, "ms")
    r.put("host.sentinel_mid_ms", f.sentinelMid, "ms")
    r.put("host.sentinel_end_ms", f.sentinelEnd, "ms")
    r.put("trace.overhead_frac", overhead(r, f), "ratio")
    r.put("failed_ops_frac", r.failed.toDouble / math.max(r.attempted, 1L), "ratio")
  }

  /** Tracing cost: the same ranked queries served with the listener
    * attached and spans on, and with both off, four times each in
    * alternating order; ratio of the median wall times, minus 1. The
    * replayed answers are dropped. */
  private def overhead(r: Run, f: Facts): Double = {
    val kept = r.answers.length
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    (0 until 4).foreach { round =>
      Seq(round % 2 == 0, round % 2 == 1).foreach { traced =>
        if (traced) r.tracer.attach() else r.tracer.detach()
        val t0 = System.nanoTime()
        if (traced) f.replay() else r.tracer.untraced(f.replay())
        (if (traced) on else off) += (System.nanoTime() - t0) / 1e6
      }
    }
    r.tracer.attach()
    r.answers.remove(kept, r.answers.length - kept)
    Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1.0
  }
}
