package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded, single-process input generator. Every input a workload feeds
  * the engine comes from here: the same seed gives the same rows in the
  * same order (and so the same canonical digest), a different seed gives
  * different text, plants and perturbations at the same sizes. Pure
  * Scala, no Spark: generation cost is the driver's alone and is counted
  * in set-up time.
  *
  * Text follows the shape of the engine's `documents` table: whitespace
  * token streams over a small shared vocabulary (so n-gram statistics and
  * near-dup rates look like the catalog's test corpora), plus a tail of
  * rarer words so retrieval probes can mix frequent and rare terms.
  */
object Gen {
  final case class Doc(id: Long, text: String, lang: String)
  final case class Vec(id: Long, v: Array[Float])

  val common: Array[String] = Array("the", "a", "data", "spark", "query",
    "table", "row", "column", "key", "value", "join", "filter", "group", "agg",
    "sort", "hash", "merge", "scan", "window", "stream", "batch", "line",
    "part", "order", "vector", "index", "fast", "slow", "big", "small",
    "customer", "time", "page", "user", "model", "text", "word", "token",
    "file", "plan")
  private val syll = Array("ka", "ro", "mi", "tu", "le", "sa", "no", "vi",
    "de", "po", "ga", "ri")
  /** 432 fixed rare words (3 syllables); the same for every seed. */
  val rare: Array[String] =
    (for (a <- syll; b <- syll; c <- syll.take(3)) yield a + b + c)
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  val boiler: Array[String] = Array("this", "content", "is", "provided",
    "under", "the", "creative", "commons", "attribution", "license", "terms",
    "only")
  val footer = "subscribe to the newsletter for weekly updates"
  val Dim = 64

  private def word(r: SplittableRandom): String =
    if (r.nextInt(100) < 85) common(r.nextInt(common.length))
    else rare(r.nextInt(rare.length))

  private def toks(r: SplittableRandom, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1))(word(r))

  /** 8-token lines joined by newlines (the catalog's line synthesis). */
  private def lined(t: Array[String], withFooter: Boolean): String =
    t.grouped(8).map(_.mkString(" ")).mkString("\n") +
      (if (withFooter) "\n" + footer else "")

  private def unitVec(r: SplittableRandom, center: Array[Double],
      noise: Double): Array[Float] = {
    val v = Array.tabulate(Dim)(i => center(i) + noise * gauss(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gauss(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def centers(r: SplittableRandom, k: Int): Array[Array[Double]] =
    Array.fill(k)(Array.fill(Dim)(gauss(r)))

  // ------------------------------------------------------------------
  // cadence: a weekly curation corpus (init batch + weekly batches)
  // ------------------------------------------------------------------

  /** One cadence input set. `batches(0)` is the init batch; the rest are
    * weekly increments with doc ids disjoint from every other batch. */
  final case class Cadence(batches: Seq[Seq[Doc]], benchmark: Seq[Doc],
      probes: Seq[Seq[String]]) {
    def nDocs: Int = batches.map(_.size).sum
  }

  /** The catalog's all-state cadence corpus recipe, re-implemented: raw
    * token streams, a 12-token boilerplate run planted at an unaligned
    * offset (1..3) in about half the docs, text sliced into 8-token lines
    * with a shared footer on about half, about a quarter of the docs
    * replicated as "copy"-prefixed token-shifted near-dups (ids far above
    * the corpus range, no embedding), and about 4% of the docs carrying a
    * 16-token span copied from a benchmark doc (decontamination
    * attrition). BM25 term sets mixing one frequent and two rare words
    * are the serving probes. Base docs land round-robin in `nBatches` batches; a
    * replica lands in its original's batch or the next one, so every
    * batch has near-dups within itself and later weeks also find them
    * against history. */
  def cadence(seed: Long, nDocs: Int, nBatches: Int): Cadence = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val bench = (0 until math.max(4, nDocs / 50)).map(j =>
      Doc(900000000L + j, toks(r, 20, 40).mkString(" "), "en"))
    val buf = Array.fill(nBatches)(Vector.newBuilder[Doc])
    for (id <- 0 until nDocs) {
      var t = toks(r, 10, 70)
      if (r.nextInt(2) == 0) {
        val off = 1 + r.nextInt(3)
        t = t.take(off) ++ boiler ++ t.drop(off)
      }
      if (r.nextInt(100) < 4) {
        val b = bench(r.nextInt(bench.size)).text.split(" ")
        val s = r.nextInt(b.length - 15)
        val at = r.nextInt(t.length + 1)
        t = t.take(at) ++ b.slice(s, s + 16) ++ t.drop(at)
      }
      val lang = langs(r.nextInt(langs.length))
      val batch = id % nBatches
      buf(batch) += Doc(id, lined(t, r.nextInt(2) == 0), lang)
      if (r.nextInt(4) == 0)
        buf((batch + r.nextInt(2)) % nBatches) +=
          Doc(1000000000000L + id, lined("copy" +: t, r.nextInt(2) == 0), lang)
    }
    val probes = Seq.fill(16)(Seq(common(r.nextInt(common.length)),
      rare(r.nextInt(rare.length)), rare(r.nextInt(rare.length))))
    Cadence(buf.map(_.result()).toSeq, bench, probes)
  }

  // ------------------------------------------------------------------
  // corpus_10x: ten planted replicas of every doc and embedding
  // ------------------------------------------------------------------

  final case class Corpus10x(base: Seq[Doc], docs: Seq[Doc], vecs: Seq[Vec],
      queries: Seq[Vec])

  /** The 10x stress recipe: each base doc plus nine replicas that append
    * one marker token (`doc_id*10+i`), so every base doc plants a 10-doc
    * near-dup clique (45 pairs), never an exact dup. Embeddings replicate
    * the same way with a small perturbation. The seed draws the text,
    * the markers and the perturbations. */
  def corpus10x(seed: Long, nBase: Int, nBaseVecs: Int, nQueries: Int): Corpus10x = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val markers = (1 until 10).map(i => s"mk${r.nextInt(1000000)}x$i")
    val base = (0 until nBase).map(id =>
      Doc(id, toks(r, 10, 70).mkString(" "), langs(r.nextInt(langs.length))))
    val docs = base.flatMap(d => (0 until 10).map(i =>
      Doc(d.id * 10 + i, if (i == 0) d.text else d.text + " " + markers(i - 1),
        d.lang)))
    val cs = centers(r, 10)
    val baseVecs = (0 until nBaseVecs).map(id =>
      Vec(id, unitVec(r, cs(r.nextInt(cs.length)), 0.6)))
    def perturb(v: Array[Float], s: Double): Array[Float] =
      unitVec(r, v.map(_.toDouble), s)
    val vecs = baseVecs.flatMap(b => (0 until 10).map(i =>
      Vec(b.id * 10 + i, if (i == 0) b.v else perturb(b.v, 0.02))))
    val queries = (0 until nQueries).map(j =>
      Vec(100000000L + j, perturb(baseVecs(r.nextInt(nBaseVecs)).v, 0.02)))
    Corpus10x(base, docs, vecs, queries)
  }

  // ------------------------------------------------------------------
  // canonical digest (byte-identity of generated inputs)
  // ------------------------------------------------------------------

  /** SHA-256 over a canonical byte encoding of docs and vectors. */
  def digest(docs: Seq[Doc], vecs: Seq[Vec]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { bb.clear(); bb.putLong(x); md.update(bb.array()) }
    docs.foreach { d =>
      long(d.id); md.update(d.text.getBytes(UTF_8)); md.update(0: Byte)
      md.update(d.lang.getBytes(UTF_8)); md.update(0: Byte)
    }
    vecs.foreach { v =>
      long(v.id); v.v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def digest(c: Cadence): String = digest(c.batches.flatten ++ c.benchmark ++
    c.probes.map(p => Doc(-1L, p.mkString(" "), "")), Nil)

  def digest(c: Corpus10x): String = digest(c.docs, c.vecs ++ c.queries)
}
