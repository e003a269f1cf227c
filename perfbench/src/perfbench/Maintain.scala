package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.checkpoint.Manifest
import graft.index.{IndexConfig, TableIndexer}
import graft.model.SourceFile
import graft.query.Searcher
import graft.sources.TableOps

/** `maintain`: writes beside reads on a managed table whose index fits the
  * local-serve budget. Each DML batch (insert new files, delete some rows,
  * update some rows) is followed by `TableIndexer.refresh`, a Searcher
  * reopen and a burst of queries; the run ends with `compact`, a reopen and
  * one more set of queries.
  *
  * Sizing: 300 base files in 15 table files, 2 shards; a batch inserts 40
  * files, and deletes and updates 8 rows each in one base table file. The
  * index stays well under `Searcher.DefaultLocalServeMaxBlocks`, so ranked
  * and prefix queries serve in-process; `query.*.local_share` and
  * `index.refresh.blocks_added` show if a change moves it across. A burst
  * is six rounds of 50 ranked queries, timed as a block for `serve_qps`,
  * then 5 prefix, 1 boolean and 1 phrase query, sampled only for their own
  * p50s. After compaction the ranked and prefix queries of one more burst
  * are served and checked but not timed: the single-segment index serves
  * ranked calls about twice as fast, and mixing the two states would make
  * the medians bimodal. A run makes two batches, whatever their speed, so
  * that every commit serves the same index states. */
object Maintain {
  val Base = 300L
  val Chunks = 15
  val Shards = 2
  val Insert = 40
  val Delete = 8
  val Update = 8
  val Batches = 2
  /** `serve_qps` is the median rate over the rounds' ranked blocks. A
    * burst's ranked calls take a few ms in all, so a pause of a few ms (a
    * GC, a descheduled thread) moves a whole-burst rate; the median block
    * skips it. Pauses still show in `query.ranked.p95_ms`. */
  val Round: String = "R" * 50 + "X" * 5 + "B" + "P"
  val Burst: Int = 6 * Round.length
  /** Untimed before the first batch: the in-process ranked and prefix
    * paths take many calls to reach compiled code; one boolean, one phrase. */
  val WarmPattern: String = "B" + "R" * 450 + "X" * 48 + "P"
  /** Untimed before every timed burst: the first 100 in-process ops of the
    * warm-up, this many times over. After a refresh the ranked path meets
    * tombstones and more segments, and without this the first burst ran
    * about twice as slow as the second. Repeats add few distinct answers
    * to check. */
  val Rewarm = 30
  val Table = "code"

  /** Base file ids are contiguous per table file (range partitions). */
  def chunkOf(f: SourceFile): Int = {
    val id = f.path.substring(f.path.lastIndexOf("File") + 4, f.path.lastIndexOf('.')).toLong
    if (id < Base) (id * Chunks / Base).toInt else -1
  }

  def apply(r: Run, facts: Facts): Unit = {
    import r.spark.implicits._
    val live = mutable.LinkedHashMap.empty[String, SourceFile]
    Stage.files(Base, r.seed).foreach(f => live(f.path) = f)
    val stream = Inputs.opStream(r.seed, Burst * (Batches + 1), live.values.toVector, Round)
    // drawn up front, before the heap baseline; only a batch's deletes
    // change which base rows a later batch can pick
    val batches = {
      var rows = live.values.toVector
      (0 until Batches).map { b =>
        val x = Inputs.batch(r.seed, b, Insert, Delete, Update, rows, chunkOf, Chunks)
        rows = rows.filterNot(f => x.deletes.contains(f.path))
        x
      }
    }
    val warmOps = Inputs.warmUp(r.seed, 1000, live.values.toVector, WarmPattern)
    val rewarmOps = Vector.fill(Rewarm)(
      warmOps.filter(op => op.kind == "ranked" || op.kind == "prefix").take(100)).flatten
    val cfg = IndexConfig(indexDir = s"${r.work}/index", numShards = Shards)
    val ops = new TableOps(r.spark, s"${r.work}/store")
    val ti = new TableIndexer(r.spark, ops, cfg)

    // snapshot id -> (live files, index docId -> key) for the checks
    val snaps = mutable.ArrayBuffer.empty[(Vector[SourceFile], Map[Long, (String, String, String)])]
    def keep(): Unit = {
      val keys = r.spark.read.parquet(cfg.docsPath)
        .select($"docId", $"repo", $"path", $"commit").as[(Long, String, String, String)]
        .collect().map { case (d, a, b, c) => d -> ((a, b, c)) }.toMap
      snaps += ((live.values.toVector, keys))
    }
    var searcher: Searcher = null
    /** Opens a Searcher on the current index; returns the id its snapshot
      * will get from the `keep` that follows, outside the timed span. */
    def reopen(): Int = {
      if (searcher != null) searcher.close()
      searcher = r.open(cfg, snaps.length)
      snaps.length
    }
    // ranked calls per second of each round's block
    val blockRates = mutable.ArrayBuffer.empty[Double]
    var next = 0
    def burst(snapshot: Int): Unit = {
      val ops = stream.slice(next, next + Burst)
      next += Burst
      r.warm(searcher, rewarmOps, snapshot)
      val n0 = r.latMs("ranked").length
      ops.grouped(Round.length).foreach { round =>
        val (ranked, samples) = round.partition(_.kind == "ranked")
        val s0 = Layers.nowS()
        ranked.foreach(r.serve(searcher, _, snapshot))
        blockRates += ranked.length / (Layers.nowS() - s0)
        samples.foreach(r.serve(searcher, _, snapshot))
      }
      r.log(f"burst: ranked p50 ${Stats.median(r.latMs("ranked").drop(n0).toSeq)}%.4f ms")
    }
    def records(): Int = new Manifest(cfg.indexDir).read().size
    def blocks(): Long = new Manifest(cfg.indexDir).get("postings").map(_.rows).getOrElse(0L)
    def liveBytes: Long = live.values.map(_.content.length.toLong).sum

    val heap0 = Layers.retainedHeapMb()

    // ---- set-up: table, index with positional sidecar, open ----
    val t0 = Layers.nowS()
    r.tracer.span("setup.stage") {
      ops.create(Table, Stage.corpus(r.spark, Base, r.seed, Chunks).toDF())
    }
    val c0 = Layers.nowS()
    r.stepped("index.build", Seq(cfg.indexDir), Build.steps("positions")) {
      ti.create(Table, positions = true)
    }
    // full builds (create, compact): content bytes indexed and wall
    var fullS = Layers.nowS() - c0
    var fullBytes = liveBytes
    var snap = reopen()
    val setupS = Layers.nowS() - t0
    keep()
    r.log("set-up done")
    facts.buildWalls(new Manifest(cfg.indexDir), liveBytes)
    r.warm(searcher, warmOps, snap)
    facts.sentinelMid = Layers.sentinelMs()

    // ---- measured: DML batches, each with refresh, reopen and a burst;
    // then compact, reopen and untimed queries ----
    val fresh = mutable.ArrayBuffer.empty[Double]
    for ((batch, b) <- batches.zipWithIndex) {
      val filesBefore = ops.dataFiles(Table, ops.currentVersion(Table)).toSet
      val d0 = Layers.nowS()
      r.tracer.span("sources.dml") {
        ops.insert(Table, batch.inserts.toDF())
        ops.delete(Table, col("path").isin(batch.deletes: _*))
        ops.update(Table, col("path").isin(batch.updates: _*), "content",
          concat(col("content"), lit(s"\n${batch.updateToken}\n")))
      }
      val filesAfter = ops.dataFiles(Table, ops.currentVersion(Table)).toSet
      batch.inserts.foreach(f => live(f.path) = f)
      batch.deletes.foreach(live.remove)
      batch.updates.foreach { p =>
        live.get(p).foreach(f => live(p) = f.copy(content = f.content + s"\n${batch.updateToken}\n"))
      }
      val (blocks0, records0) = (blocks(), records())
      val seg = new Manifest(cfg.indexDir).read().keys.count(_.matches("append-\\d+"))
      r.stepped("index.refresh", Seq(cfg.indexDir, s"${cfg.indexDir}/segments/seg$seg"),
          refreshSteps(seg)) {
        ti.refresh(Table)
      }
      facts.blocksAdded += (blocks() - blocks0).toDouble
      facts.recordsAdded += (records() - records0).toDouble
      facts.filesAdded += (filesAfter -- filesBefore).size.toDouble
      facts.filesRemoved += (filesBefore -- filesAfter).size.toDouble
      snap = reopen()
      fresh += Layers.nowS() - d0
      keep()
      r.log(f"batch $b: DML to first answer ${fresh.last}%.2f s, ${blocks()} blocks")
      burst(snap)
    }
    val indexBytes = Layers.dirBytes(cfg.indexDir)
    val indexedLive = liveBytes

    val k0 = Layers.nowS()
    r.tracer.span("index.compact") { ti.compact(Table) }
    fullS += Layers.nowS() - k0
    fullBytes += liveBytes
    snap = reopen()
    keep()
    stream.slice(next, next + Burst).filter(op => op.kind == "ranked" || op.kind == "prefix")
      .foreach(r.serve(searcher, _, snap, timed = false))
    r.log("compacted and served")
    facts.sentinelEnd = Layers.sentinelMs()

    // ---- untimed: check and drop the answers, then read the heap ----
    check(r, snaps.toSeq)
    snaps.clear()
    val heapMb = Layers.retainedHeapMb() - heap0
    r.check(searcher.verifyLineage(ops.read(Table).as[SourceFile]) == 0L)
    r.log(f"sentinel ms: start ${facts.sentinelStart}%.1f mid ${facts.sentinelMid}%.1f end ${facts.sentinelEnd}%.1f, heap $heapMb%.1f MB")
    facts.manifestKb = new java.io.File(cfg.indexDir, "manifest.json").length / 1024.0
    val last = searcher
    facts.replay = () => stream.filter(_.kind == "ranked").take(40).foreach(r.serve(last, _, snap, timed = false))

    r.put("setup_s", setupS, "s")
    r.put("build_gb_per_h", fullBytes / 1e9 / (fullS / 3600.0), "GB/h")
    r.put("index_bytes_per_content_byte", indexBytes.toDouble / indexedLive, "ratio")
    r.putLatencies(Stats.median(blockRates.toSeq))
    r.put("freshness_p50_s", Stats.median(fresh.toSeq), "s")
    r.put("retained_heap_mb", heapMb, "MB")
    facts.sample = Stage.files(200, r.seed)
  }

  /** Each answer against an oracle over the snapshot it was served from; a
    * method of its own, so that its oracles are unreachable once it returns
    * and the heap reading leaves them out. */
  private def check(r: Run,
      snaps: Seq[(Vector[SourceFile], Map[Long, (String, String, String)])]): Unit = {
    val oracles = snaps.map { case (files, keys) => (new Snapshot(files), keys) }
    val want = mutable.HashMap.empty[(Inputs.Op, Int), Vector[((String, String, String), Double)]]
    r.checkAnswers { a =>
      val (o, keys) = oracles(a.snapshot)
      Checks.byKey(a.got.toOption.get, keys,
        want.getOrElseUpdate((a.op, a.snapshot), o.ranking(a.op)), r.K)
    }
    r.log("checked")
  }

  /** Refresh steps, each ended by the first change of its manifest record:
    * dir 0 is the index, dir 1 the batch's sub-build. */
  def refreshSteps(n: Int): Seq[(String, Int, String => Boolean)] = Seq(
    ("subbuild", 1, (_: String) == "lexicon"),
    ("vocab", 0, (_: String) == s"merge-$n-vocab"),
    ("docs", 0, (_: String) == s"merge-$n-docs"),
    ("postings", 0, (_: String) == s"merge-$n-postings"),
    ("lexicon", 0, (_: String) == "lexicon"),
    ("positions", 0, (_: String).startsWith("posseg-")),
    ("tombstones", 0, (_: String) == "tombstones"))
}
