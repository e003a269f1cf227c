package perfbench

import scala.collection.mutable

import graft.analysis.CodeTokenizer
import graft.codec.{Posting, PostingCodec}
import graft.model.SourceFile

/** Single-threaded layer probes and host measurements taken outside Spark. */
object Layers {
  def nowS(): Double = System.nanoTime() / 1e9

  /** Runs `f` (which returns the units it processed) once untimed, then
    * until `minSeconds` elapse, at least twice; returns the median units/s. */
  private def rate(minSeconds: Double)(f: => Long): Double = {
    f
    val rates = mutable.ArrayBuffer.empty[Double]
    val end = nowS() + minSeconds
    while (rates.length < 2 || nowS() < end) {
      val t0 = nowS(); val units = f; rates += units / (nowS() - t0)
    }
    Stats.median(rates.toSeq)
  }

  /** Tokenizer throughput over a fixed document sample, MB of content/s. */
  def tokenizeMbPerS(sample: Seq[SourceFile]): Double = rate(0.6) {
    var bytes = 0L
    sample.foreach { f => CodeTokenizer.termFreqs(f.content); bytes += f.content.length }
    bytes
  } / 1e6

  /** Posting blocks of the sample, as the index build frames them: per term, the
    * docIds (sample positions) holding it, in blocks of the default size. */
  def sampleBlocks(sample: Seq[SourceFile]): Vector[Vector[Posting]] = {
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[Posting]]
    sample.zipWithIndex.foreach { case (f, d) =>
      CodeTokenizer.termFreqs(f.content)._1.foreach { case (t, tf) =>
        byTerm.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += Posting(d.toLong, tf)
      }
    }
    byTerm.toVector.sortBy(_._1).flatMap { case (_, ps) =>
      ps.sortBy(_.docId).grouped(PostingCodec.DefaultBlockSize).map(_.toVector)
    }
  }

  /** (encode Mpostings/s, decode Mpostings/s, encoded bytes per posting). */
  def codec(blocks: Vector[Vector[Posting]]): (Double, Double, Double) = {
    val postings = blocks.map(_.length.toLong).sum
    val enc = rate(0.4) { blocks.foreach(b => PostingCodec.encodeBlock(b)); postings }
    val bytes = blocks.map(b => PostingCodec.encodeBlock(b))
    var sink = 0L
    val dec = rate(0.4) {
      bytes.foreach(b => PostingCodec.foreachPosting(b)((d, tf) => sink += d + tf))
      postings
    }
    require(sink != 0L)
    (enc / 1e6, dec / 1e6, bytes.map(_.length.toLong).sum.toDouble / postings)
  }

  /** Ambient-noise sentinel: a fixed integer-mixing pass over a 32 MB array
    * (CPU plus memory bandwidth), best of three, in ms. The same work on
    * every run, so drift between runs is the host, not the program. */
  def sentinelMs(): Double = {
    val a = new Array[Long](4 << 20)
    (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      var x = rep.toLong
      var pass = 0
      while (pass < 6) {
        var i = 0
        while (i < a.length) {
          x = Inputs.splitmix64(x + a(i))
          a(i) = x
          i += 1 + (pass & 1)
        }
        pass += 1
      }
      require(x != 42L)
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** JVM heap in use after a full collection, MB: the least of four
    * collections 100 ms apart, so that Spark's cleaner thread can release
    * what earlier collections made unreachable. A workload reads it once
    * before set-up, with its inputs generated, and once after its last
    * query, and reports the difference: the heap the program retains. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted average of
    * all order statistics. At a few dozen samples it is much steadier than
    * any single order statistic, above all in the tail. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toArray
    val n = s.length
    if (n == 1) return s(0)
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      q * (n + 1), (1 - q) * (n + 1))
    var acc = 0.0
    var prev = 0.0
    var i = 1
    while (i <= n) {
      val c = beta.cumulativeProbability(i.toDouble / n)
      acc += (c - prev) * s(i - 1)
      prev = c
      i += 1
    }
    acc
  }
}
