package perfbench

import graft.checkpoint.Manifest
import graft.index.{IndexBuilder, IndexConfig, PositionalIndex}
import graft.model.{ScoredDoc, SourceFile}

/** `serve-dist`: a cold build into a fresh directory, then a closed loop of
  * ranked, boolean, phrase and prefix queries (one client) against an index
  * larger than the local-serve budget, so every query pays Spark scheduling.
  *
  * Sizing: 600 files and 64 shards give about 380k posting blocks, above
  * `Searcher.DefaultLocalServeMaxBlocks` (262,144), while the cold build
  * stays short enough for the run budget. The stream takes the four kinds
  * in turn, so each gets the same number of timed calls: there is no
  * traffic record to weight them by, and the per-kind p50s need samples. */
object ServeDist {
  val Files = 600L
  val Shards = 64
  val Pattern = "RBPX"

  def apply(r: Run, facts: Facts): Unit = {
    import r.spark.implicits._
    val files: Vector[SourceFile] = Stage.files(Files, r.seed)
    val stream = Inputs.opStream(r.seed, 4000, files, Pattern)
    val contentBytes = files.map(_.content.length.toLong).sum
    val cfg = IndexConfig(indexDir = s"${r.work}/index", numShards = Shards)

    val warmOps = Inputs.warmUp(r.seed, 10, files, "RRRBRRPRXR")
    val heap0 = Layers.retainedHeapMb()

    // ---- set-up: stage to parquet, build, positional sidecar, open ----
    val t0 = Layers.nowS()
    r.tracer.span("setup.stage") {
      Stage.corpus(r.spark, Files, r.seed, r.cores).write.parquet(s"${r.work}/corpus")
    }
    val corpus = r.spark.read.parquet(s"${r.work}/corpus").as[SourceFile]
    val tb = Layers.nowS()
    r.stepped("index.build", Seq(cfg.indexDir), Build.steps()) {
      IndexBuilder.build(r.spark, corpus, cfg, "perfbench")
    }
    r.tracer.span("index.positions") {
      PositionalIndex.build(r.spark, corpus, cfg, "perfbench")
    }
    val buildS = Layers.nowS() - tb
    val searcher = r.open(cfg, 0)
    val freshS = Layers.nowS() - tb
    val setupS = Layers.nowS() - t0
    r.log(f"set-up done: build and positions $buildS%.2f s, " +
      s"${new Manifest(cfg.indexDir).get("postings").get.rows} blocks")
    facts.buildWalls(new Manifest(cfg.indexDir), contentBytes)
    r.warm(searcher, warmOps, 0)
    facts.sentinelMid = Layers.sentinelMs()

    // ---- measured: closed loop ----
    val l0 = Layers.nowS()
    var i = 0
    while (Layers.nowS() - l0 < r.seconds) {
      r.serve(searcher, stream(i % stream.length), 0)
      i += 1
    }
    val loopS = Layers.nowS() - l0
    r.log(s"served $i queries")
    facts.sentinelEnd = Layers.sentinelMs()

    // ---- untimed: check and drop the answers, then read the heap ----
    check(r, files)
    val heapMb = Layers.retainedHeapMb() - heap0
    r.check(searcher.verifyLineage(corpus) == 0L)
    r.log(f"sentinel ms: start ${facts.sentinelStart}%.1f mid ${facts.sentinelMid}%.1f end ${facts.sentinelEnd}%.1f, heap $heapMb%.1f MB")
    facts.manifestKb = new java.io.File(cfg.indexDir, "manifest.json").length / 1024.0
    facts.replay = () => stream.filter(_.kind == "ranked").take(10).foreach(r.serve(searcher, _, 0, timed = false))

    r.put("setup_s", setupS, "s")
    r.put("build_gb_per_h", contentBytes / 1e9 / (buildS / 3600.0), "GB/h")
    r.put("index_bytes_per_content_byte",
      Layers.dirBytes(cfg.indexDir).toDouble / contentBytes, "ratio")
    r.putLatencies(i / loopS)
    r.put("freshness_p50_s", freshS, "s")
    r.put("retained_heap_mb", heapMb, "MB")
    facts.sample = files.take(200)
  }

  /** Checks each answer; a method of its own, so that its oracle is
    * unreachable once it returns and the heap reading leaves it out. */
  private def check(r: Run, files: Seq[SourceFile]): Unit = {
    val snap = new Snapshot(files)
    val want = scala.collection.mutable.HashMap.empty[Inputs.Op, Vector[ScoredDoc]]
    r.checkAnswers(a => Checks.exact(a.got.toOption.get,
      want.getOrElseUpdate(a.op, snap.expected(a.op, r.K))))
    r.log("checked")
  }
}
