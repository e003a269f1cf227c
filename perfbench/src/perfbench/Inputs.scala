package perfbench

import graft.model.SourceFile

/** The benchmark's own input generator: corpus files, query streams and DML
  * batches, all derived from the `--seed` argument.
  *
  * The corpus distribution is a copy of the program's synthetic code corpus
  * (Zipf-weighted ~20k-identifier vocabulary plus per-language keyword
  * sets), kept here so that a later change to the program's generator
  * cannot move a workload. Every draw is a pure function of (seed, stream,
  * counter), so inputs do not depend on partitioning or execution order.
  */
object Inputs {
  val Langs: Vector[String] = Vector("scala", "java", "py", "c", "go", "md")
  val Keywords: Map[String, Vector[String]] = Map(
    "scala" -> Vector("def", "val", "if", "else", "match", "case", "return", "import", "class", "object"),
    "java" -> Vector("public", "static", "void", "if", "else", "return", "import", "class", "new", "final"),
    "py" -> Vector("def", "if", "else", "return", "import", "class", "for", "in", "None", "self"),
    "c" -> Vector("int", "void", "if", "else", "return", "include", "struct", "for", "while", "static"),
    "go" -> Vector("func", "if", "else", "return", "import", "package", "for", "range", "var", "type"),
    "md" -> Vector("the", "and", "for", "with", "this", "that", "use", "run", "build", "test"))
  val AllKeywords: Vector[String] = Keywords.values.flatten.toVector.distinct.sorted
  private val KeywordSet: Set[String] = AllKeywords.map(_.toLowerCase).toSet
  val VocabSize = 20000
  private val Roots = Vector("get", "set", "run", "map", "key", "val", "idx",
    "buf", "node", "item", "data", "conf", "util", "exec", "scan", "sort",
    "hash", "join", "agg", "plan", "col", "row", "doc", "term", "pos", "len")

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Counter-based draw: the nth value of a stream. */
  def draw(stream: Long, n: Long): Long = splitmix64(stream * 0x100000001b3L + n)
  def uniform(x: Long, bound: Int): Int = ((x >>> 1) % bound).toInt
  def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf-like rank: squaring a uniform draw concentrates mass on low ranks. */
  def zipfRank(x: Long): Int = math.min((unit(x) * unit(x) * VocabSize).toInt, VocabSize - 1)

  def identifier(rank: Int): String = {
    val r1 = Roots((rank * 7919) % Roots.length)
    val r2 = Roots((rank * 104729 / Roots.length) % Roots.length)
    if (rank < Roots.length) r1
    else if (rank < Roots.length * Roots.length) s"${r1}_$r2"
    else f"${r1}_${r2}_x${rank % 997}%03d"
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** File `id` of the corpus for `seed`: 10–400 lines of keyword and
    * identifier tokens. Distinct ids give distinct paths. */
  def genFile(id: Long, seed: Long): SourceFile = {
    val s = splitmix64(seed ^ splitmix64(id))
    val repoIdx = math.min((unit(draw(s, 0)) * unit(draw(s, 0)) * 50).toInt, 49)
    val lang = Langs(uniform(draw(s, 1), Langs.length))
    val path = s"src/dir${uniform(draw(s, 2), 40)}/File$id.$lang"
    val repo = s"org${repoIdx % 7}/repo$repoIdx"
    val commit = sha256Hex(s"$repo/$path#$seed").substring(0, 40)
    val lines = 10 + uniform(draw(s, 3), 391)
    val kw = Keywords(lang)
    val sb = new java.lang.StringBuilder(lines * 40)
    var n = 16L
    var ln = 0
    while (ln < lines) {
      val tokens = 3 + uniform(draw(s, n), 8); n += 1
      var t = 0
      while (t < tokens) {
        val x = draw(s, n); n += 1
        if ((x & 0xff) < 90) sb.append(kw(uniform(x >>> 8, kw.length)))
        else sb.append(identifier(zipfRank(x)))
        if (t < tokens - 1) sb.append(' ')
        t += 1
      }
      sb.append('\n')
      ln += 1
    }
    SourceFile(repo, path, commit, lang, sb.toString)
  }

  sealed trait Op { def kind: String }
  final case class Ranked(text: String) extends Op { def kind = "ranked" }
  final case class BooleanQ(text: String) extends Op { def kind = "boolean" }
  final case class Phrase(text: String) extends Op { def kind = "phrase" }
  final case class Prefix(text: String) extends Op { def kind = "prefix" }

  /** A query term from rare to heavy: keywords (heavy hitters), Zipf-drawn
    * identifiers (common), uniform identifiers (rare), or an absent term.
    * The class shares are a choice; there is no query log to take them
    * from. */
  private def term(x: Long, absentShare: Double): String = {
    val u = unit(x)
    val y = splitmix64(x)
    if (u < 0.15) AllKeywords(uniform(y, AllKeywords.length))
    else if (u < 0.60) identifier(zipfRank(y))
    else if (u < 1.0 - absentShare) identifier(uniform(y, VocabSize))
    else s"zq${uniform(y, 1000)}absent"
  }

  /** The seeded stream of `n` operations over `corpus`. Op i has kind
    * `pattern(i % pattern.length)` (R ranked, B boolean, P phrase, X prefix),
    * so every seed gets the same mix; its text is drawn from the seed. The
    * pattern is a sampling plan set by each workload, not a model of real
    * traffic: there is no traffic record to derive a mix from.
    * Ranked queries take 1–4 terms from rare to heavy, a tenth absent.
    * The other kinds keep one shape, so that their latency varies with the
    * engine rather than with the shape the seed drew: boolean queries are
    * `+A +B C -D` over terms of the corpus, phrases are 2–3 adjacent tokens
    * of a corpus document starting at an identifier (a phrase led by a
    * heavy keyword costs several times more), and prefixes extend an
    * identifier root by part of its second root, which keeps expansions far
    * below the prefix cap. */
  def opStream(seed: Long, n: Int, corpus: IndexedSeq[SourceFile],
      pattern: String): Vector[Op] = {
    val st = splitmix64(seed * 7 + 3)
    (0 until n).map { i =>
      val y = draw(st, i.toLong)
      pattern(i % pattern.length) match {
        case 'R' => rankedQuery(y)
        case 'B' =>
          BooleanQ(s"+${term(draw(y, 0), 0.0)} +${identifier(zipfRank(draw(y, 1)))} " +
            s"${term(draw(y, 2), 0.0)} -${AllKeywords(uniform(draw(y, 3), AllKeywords.length))}")
        case 'P' =>
          val doc = corpus(uniform(draw(y, 0), corpus.length))
          val toks = graft.analysis.CodeTokenizer.tokenize(doc.content)
          val len = 2 + uniform(draw(y, 1), 2)
          val from = uniform(draw(y, 2), math.max(1, toks.length - len))
          val at = (from until toks.length - len).find(i => !KeywordSet(toks(i))).getOrElse(from)
          Phrase(toks.slice(at, at + len).mkString(" "))
        case 'X' =>
          val id = identifier(Roots.length + uniform(draw(y, 0), VocabSize - Roots.length))
          Prefix(id.take(math.min(id.indexOf('_') + 2 + uniform(draw(y, 1), 4), id.length)))
      }
    }.toVector
  }

  /** Operations from a stream of their own, served before timing starts
    * so that timed calls find the code warm. */
  def warmUp(seed: Long, n: Int, corpus: IndexedSeq[SourceFile], pattern: String): Vector[Op] =
    opStream(seed ^ 0x5eedL, n, corpus, pattern)

  /** The two most frequent identifiers, which every generated corpus holds:
    * a query that reaches every part of the ranked serving path. */
  val FirstQuery: Ranked = Ranked(s"${identifier(0)} ${identifier(1)}")

  def rankedQuery(x: Long): Ranked = {
    val terms = 1 + uniform(draw(x, 0), 4)
    Ranked((0 until terms).map(j => term(draw(x, 1 + j), 0.1)).mkString(" "))
  }

  /** One maintenance batch: `inserts` new files, plus the paths to delete
    * and to update. Deletes and updates each pick rows of one base table
    * file (`chunkOf`), so a batch rewrites two table files: the
    * copy-on-write shape of a targeted DML statement. */
  final case class Batch(inserts: Seq[SourceFile], deletes: Seq[String],
      updates: Seq[String], updateToken: String)

  def batch(seed: Long, b: Int, nInsert: Int, nDelete: Int, nUpdate: Int,
      live: IndexedSeq[SourceFile], chunkOf: SourceFile => Int,
      chunks: Int): Batch = {
    val st = splitmix64(seed * 13 + b)
    val ins = (0 until nInsert).map(i => genFile(1000000L + b * 10000L + i, seed))
    def pick(chunk: Int, n: Int, salt: Int): Seq[String] = {
      val cands = live.filter(f => chunkOf(f) == chunk).map(_.path).sorted
      cands.sortBy(p => splitmix64(st ^ p.hashCode.toLong ^ salt)).take(n)
    }
    val delChunk = uniform(draw(st, 1), chunks)
    val updChunk = (delChunk + 1 + uniform(draw(st, 2), chunks - 1)) % chunks
    Batch(ins, pick(delChunk, nDelete, 1), pick(updChunk, nUpdate, 2),
      s"upd_b${b}_tok")
  }
}
