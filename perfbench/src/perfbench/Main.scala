package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `--workload <serve-dist|maintain> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --spans <file>`.
  * Prints the result object as the last line of standard output: the
  * end-to-end metrics, or with `--trace 1` the per-layer ones (and writes
  * the spans). Exits non-zero, printing no result, if the run fails. */
object Main {
  val Workloads: Map[String, (Run, Facts) => Unit] =
    Map("serve-dist" -> (ServeDist(_, _)), "maintain" -> (Maintain(_, _)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val facts = new Facts
    facts.sentinelStart = Layers.sentinelMs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bound the status store (kept even without the UI), so retained
      // heap does not grow with the number of jobs a run happens to start
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try {
      val run = new Run(spark, seed, seconds, work,
        new Tracer(spark.sparkContext, s"$workload-$seed", traced))
      body(run, facts)
      val endToEnd = run.metrics.clone()
      val shown = if (!traced) endToEnd else {
        run.metrics.clear()
        Ledger.put(run, facts)
        run.tracer.writeSpans(java.nio.file.Paths.get(opts("spans")))
        run.metrics
      }
      val bad = shown.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
      require(bad.isEmpty, s"non-finite metrics: ${bad.mkString(", ")}")
      val ms = shown.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
      println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
        s""""failed":${run.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    sys.exit(code)
  }
}
