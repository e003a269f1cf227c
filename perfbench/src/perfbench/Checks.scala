package perfbench

import graft.analysis.CodeTokenizer
import graft.index.IndexBuilder
import graft.model.{BM25Params, ScoredDoc, SourceFile}
import graft.query.{SequentialOracle, Searcher}

/** Untimed answer checks over one corpus snapshot. Ranked and prefix
  * answers are compared with `SequentialOracle.topK`; boolean and phrase
  * answers with straight-line scans built on `CodeTokenizer` and
  * `SequentialOracle.score`. Oracle docIds are ranks of the sorted
  * (repo, path, commit) keys, the engine's docIds on a fresh build. */
final class Snapshot(files: Seq[SourceFile]) {
  private val p = BM25Params()
  val oracle = new SequentialOracle(files, p)
  private val sorted: Vector[SourceFile] =
    files.sortBy(f => (f.repo, f.path, f.commit)).toVector
  private val tokens: Vector[Array[String]] =
    sorted.map(f => CodeTokenizer.tokenize(f.content).toArray)
  private val termSets: Vector[Set[String]] = tokens.map(_.toSet)
  private val vocab: Array[String] = termSets.flatten.distinct.sorted.toArray
  private val avgDl: Double =
    tokens.map(_.length.toLong).sum.toDouble / math.max(sorted.length.toLong, 1L)
  val n: Long = sorted.length.toLong

  def key(docId: Long): (String, String, String) = oracle.docKey(docId)

  private def top(hits: Iterator[ScoredDoc], k: Int): Vector[ScoredDoc] =
    hits.toVector.sortBy(sd => (-sd.score, sd.docId)).take(k)

  def ranked(q: String, k: Int): Vector[ScoredDoc] = oracle.topK(q, k)

  /** Expansion over this snapshot's vocabulary; fails past the engine cap. */
  def expand(prefix: String): Array[String] = {
    val f = CodeTokenizer.foldPrefix(prefix).get
    val hits = vocab.filter(_.startsWith(f))
    require(hits.length <= Searcher.PrefixMaxExpand,
      s"generated prefix '$prefix' expands to ${hits.length} terms")
    hits
  }

  def prefix(q: String, k: Int): Vector[ScoredDoc] = {
    val terms = expand(q)
    if (terms.isEmpty) Vector.empty else oracle.topK(terms.mkString(" "), k)
  }

  /** Membership by roles, score = the plain BM25 sum of the present MUST
    * and SHOULD terms. */
  def boolean(q: String, k: Int): Vector[ScoredDoc] = {
    val (must, should, not) = Searcher.parseBoolean(q)
    if (must.exists(not.contains)) return Vector.empty
    val scoring = (must ++ should.filterNot(not.contains)).distinct.sorted
    if (scoring.isEmpty) return Vector.empty
    val text = scoring.mkString(" ")
    top(sorted.indices.iterator.filter { d =>
      val ts = termSets(d)
      must.forall(ts.contains) && !not.exists(ts.contains) &&
        scoring.exists(ts.contains)
    }.map(d => ScoredDoc(d.toLong, oracle.score(text, d.toLong))), k)
  }

  /** Exact phrase scored as one synthetic term: tf = occurrences of the
    * token sequence, df = documents containing it. */
  def phrase(q: String, k: Int): Vector[ScoredDoc] = {
    val ph = CodeTokenizer.tokenize(q).toArray
    if (ph.isEmpty) return Vector.empty
    val tfs = tokens.map { ts =>
      var c = 0
      var i = 0
      while (i + ph.length <= ts.length) {
        var j = 0
        while (j < ph.length && ts(i + j) == ph(j)) j += 1
        if (j == ph.length) c += 1
        i += 1
      }
      c
    }
    val df = tfs.count(_ > 0).toLong
    if (df == 0) return Vector.empty
    val w = IndexBuilder.idf(n, df) * (p.k1 + 1.0)
    top(tfs.indices.iterator.filter(tfs(_) > 0).map { d =>
      val tf = tfs(d); val dl = tokens(d).length
      ScoredDoc(d.toLong, w * (tf / (tf + p.k1 * (1.0 - p.b + p.b * dl / avgDl))))
    }, k)
  }

  def expected(op: Inputs.Op, k: Int): Vector[ScoredDoc] = op match {
    case Inputs.Ranked(q) => ranked(q, k)
    case Inputs.BooleanQ(q) => boolean(q, k)
    case Inputs.Phrase(q) => phrase(q, k)
    case Inputs.Prefix(q) => prefix(q, k)
  }

  /** The full ranking of `op` by key, for tie-tolerant comparison against
    * an index whose docIds are not key ranks. */
  def ranking(op: Inputs.Op): Vector[((String, String, String), Double)] =
    expected(op, Int.MaxValue).map(sd => key(sd.docId) -> sd.score)
}

object Checks {
  /** Same docIds and Double scores, in order. */
  def exact(got: Array[ScoredDoc], want: Vector[ScoredDoc]): Boolean =
    got.toVector == want

  /** For an index whose docIds differ from key ranks: the oracle's top-k
    * score sequence, each returned key carrying exactly its oracle score,
    * and no key twice (ties at the cut may pick any of the tied keys). */
  def byKey(got: Array[ScoredDoc], keyOf: Long => (String, String, String),
      ranking: Vector[((String, String, String), Double)], k: Int): Boolean = {
    val scores = ranking.toMap
    got.map(_.score).toVector == ranking.take(k).map(_._2) &&
      got.forall(sd => scores.get(keyOf(sd.docId)).contains(sd.score)) &&
      got.map(sd => keyOf(sd.docId)).distinct.length == got.length
  }
}

/** One query of a run: what was asked, on which snapshot, what came back. */
final case class Answer(op: Inputs.Op, snapshot: Int, got: Either[String, Array[ScoredDoc]])
