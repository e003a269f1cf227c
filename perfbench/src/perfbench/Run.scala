package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.index.IndexConfig
import graft.model.{ScoredDoc, SourceFile}
import graft.query.Searcher

/** State of one benchmark run: the session, the tracer, the answers given,
  * the latencies seen, and the metrics to print. */
final class Run(val spark: SparkSession, val seed: Long,
    val seconds: Int, val work: String, val tracer: Tracer) {
  val K = 10
  val cores: Int = spark.sparkContext.defaultParallelism
  val startS: Double = Layers.nowS()
  val answers = mutable.ArrayBuffer.empty[Answer]
  val latMs: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap(Seq("ranked", "boolean", "phrase", "prefix")
      .map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** A pass/fail operation that is not a query (a lineage check, say). */
  def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def call(s: Searcher, op: Inputs.Op): Array[ScoredDoc] = op match {
    case Inputs.Ranked(q) => s.searchWAND(q, K)
    case Inputs.BooleanQ(q) => s.searchBoolean(q, K)
    case Inputs.Phrase(q) => s.searchPhrase(q, K)
    case Inputs.Prefix(q) => s.searchPrefix(q, K)
  }

  /** One closed-loop query: traced, its answer kept for checking, and its
    * latency kept unless `timed` is false. */
  def serve(s: Searcher, op: Inputs.Op, snapshot: Int, timed: Boolean = true): Unit = {
    val t0 = System.nanoTime()
    val got = try Right(tracer.span("query." + op.kind)(call(s, op)))
      catch { case e: Exception => Left(e.toString) }
    if (timed) latMs(op.kind) += (System.nanoTime() - t0) / 1e6
    answers += Answer(op, snapshot, got)
  }

  /** Untimed calls whose answers are still checked: warms the code paths
    * before the first timed call. */
  def warm(s: Searcher, ops: Seq[Inputs.Op], snapshot: Int): Unit =
    ops.foreach { op =>
      val got = try Right(call(s, op)) catch { case e: Exception => Left(e.toString) }
      answers += Answer(op, snapshot, got)
    }

  /** Progress on stderr, seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${Layers.nowS() - startS}%7.2f s] $msg")

  /** Opens a Searcher and waits for its answer to `Inputs.FirstQuery`.
    * The Searcher loads its serving state lazily on the first query with
    * hits, so this is the time until the index serves. */
  def open(cfg: IndexConfig, snapshot: Int): Searcher =
    tracer.span("query.open") {
      val s = new Searcher(spark, cfg)
      answers += Answer(Inputs.FirstQuery, snapshot, Right(call(s, Inputs.FirstQuery)))
      s
    }

  /** Runs `body` in a span whose steps end when the watched manifest
    * records first change (traced runs only). */
  def stepped[A](name: String, dirs: Seq[String],
      steps: Seq[(String, Int, String => Boolean)])(body: => A): A = {
    val watcher = if (tracer.enabled) new ManifestWatcher(dirs) else null
    val (a, span) = tracer.spanWith(name)(body)
    if (watcher != null) span.steps = watcher.stop(span.startMs, span.endMs, steps)
    a
  }

  def putLatencies(qps: Double): Unit = {
    def q(kind: String, p: Double) = Stats.quantile(latMs(kind).toSeq, p)
    latMs.foreach { case (k, xs) =>
      log(f"$k%-8s n=${xs.length}%4d p25 ${q(k, 0.25)}%8.2f p50 ${q(k, 0.5)}%8.2f " +
        f"p75 ${q(k, 0.75)}%8.2f p95 ${q(k, 0.95)}%8.2f ms")
    }
    put("ranked_p50_ms", q("ranked", 0.5), "ms")
    put("boolean_p50_ms", q("boolean", 0.5), "ms")
    put("phrase_p50_ms", q("phrase", 0.5), "ms")
    put("prefix_p50_ms", q("prefix", 0.5), "ms")
    put("serve_qps", qps, "queries/s")
  }

  /** Scores every kept answer against its snapshot's oracle, then drops
    * them; an answer that failed, came back wrong or could not be checked
    * is a failure. */
  def checkAnswers(verdict: Answer => Boolean): Unit = {
    attempted += answers.length
    failed += answers.count(a => a.got.isLeft ||
      !(try verdict(a) catch { case _: Exception => false }))
    answers.clear()
  }
}

object Build {
  val Stages: Seq[String] = Seq("keymap", "forward", "docs", "postings", "lexicon")
  def steps(extra: String*): Seq[(String, Int, String => Boolean)] =
    (Stages ++ extra).map(s => (s, 0, (r: String) => r == s))
}

/** Corpus generation shared by the workloads. */
object Stage {
  /** Files 0 until `ids`, generated by the tasks; each partition holds a
    * contiguous id range. */
  def corpus(spark: SparkSession, ids: Long, seed: Long, partitions: Int) = {
    import spark.implicits._
    spark.range(0L, ids, 1L, partitions).map(id => Inputs.genFile(id, seed))
  }

  def files(ids: Long, seed: Long): Vector[SourceFile] =
    (0L until ids).map(Inputs.genFile(_, seed)).toVector
}
