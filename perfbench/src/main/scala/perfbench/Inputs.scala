package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The program under test only ever sees what
  * these produce; every stream is derived from the run's seed plus a
  * fixed per-role salt, so changing one input size never shifts the
  * values another role draws. */
object Inputs {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Points of an isotropic Gaussian mixture, the shape of
    * scikit-learn's `make_blobs` with its defaults (centres uniform in
    * [-10, 10] per coordinate, unit standard deviation), which is what
    * ann-benchmarks' `random-s-100-euclidean` set is drawn from. A
    * point picks a centre uniformly and adds N(0, 1) per coordinate. */
  final class Mixture(seed: Long, dim: Int, clusters: Int) {
    private val centres = {
      val r = rng(seed, 1)
      Array.fill(clusters, dim)(20.0 * r.nextDouble() - 10.0)
    }
    def draw(n: Int, salt: Long): Array[Array[Float]] = {
      val r = rng(seed, salt)
      Array.fill(n) {
        val c = centres(r.nextInt(clusters))
        Array.tabulate(dim)(i => (c(i) + gaussian(r)).toFloat)
      }
    }
  }

  /** Indexed vectors, vectors inserted later, and held-out queries,
    * all from one mixture but from disjoint random streams. */
  final case class VectorSet(base: Array[Array[Float]], extra: Array[Array[Float]],
      queries: Array[Array[Float]])

  /** ann-benchmarks' `random-s-100-euclidean` has 1000 centres for
    * 100 000 points; callers keep that ratio. */
  val PointsPerCentre = 100

  def vectors(seed: Long, dim: Int, n: Int, nExtra: Int, nQueries: Int, clusters: Int): VectorSet = {
    val m = new Mixture(seed, dim, clusters)
    VectorSet(m.draw(n, 2), m.draw(nExtra, 3), m.draw(nQueries, 4))
  }

  /** `count` distinct values from [0, n), in draw order. */
  def sample(seed: Long, salt: Long, n: Int, count: Int): Array[Int] = {
    require(count <= n, s"cannot draw $count distinct values from $n")
    val r = rng(seed, salt)
    val seen = new java.util.HashSet[Integer]()
    val out = Array.newBuilder[Int]
    while (seen.size < count) {
      val v = r.nextInt(n)
      if (seen.add(v)) out += v
    }
    out.result()
  }

  /** A synthetic corpus with known duplicate structure.
    * `exactGroups` are sets of doc ids with byte-identical text;
    * `families` are near-duplicate families (a base document and
    * variants with a few tokens replaced), one set of ids each. */
  final case class Corpus(texts: Array[String], exactGroups: Seq[Set[Long]],
      families: Seq[Set[Long]])

  /** Word for vocabulary rank `i`: a short letter string, unique per
    * rank, so frequent ranks read as short common words. */
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + (x - 1) % 26).toChar); x = (x - 1) / 26 }
    sb.toString
  }

  def corpus(seed: Long, nUnique: Int, vocab: Int, minLen: Int, maxLen: Int,
      exactCopies: Int, nFamilies: Int, familySize: Int, editFrac: Double): Corpus = {
    val words = Array.tabulate(vocab)(word)
    // Zipf(s = 1.1) over vocabulary ranks, sampled by inverse CDF
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def token(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
    // every text is drawn again until it is new, so the planted copies
    // are the only byte-identical documents
    val seen = scala.collection.mutable.Set.empty[String]
    def fresh(draw: () => Array[Int]): Array[Int] = {
      var d = draw()
      while (!seen.add(d.map(words).mkString(" "))) d = draw()
      d
    }
    val r = rng(seed, 5)
    val docs = Array.fill(nUnique)(fresh(() => Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(token(r))))
    val texts = scala.collection.mutable.ArrayBuffer.from(docs.map(_.map(words).mkString(" ")))
    // exact copies of distinct unique docs, one extra copy each
    val copySrc = sample(seed, 6, nUnique, exactCopies + nFamilies)
    val exactGroups = copySrc.take(exactCopies).toSeq.map { src =>
      texts += texts(src)
      Set(src.toLong, (texts.length - 1).toLong)
    }
    // near-duplicate families: the base plus variants, each variant
    // replacing a fixed share of positions with a different token
    val er = rng(seed, 7)
    val families = copySrc.drop(exactCopies).toSeq.map { src =>
      val base = docs(src)
      val members = (1 until familySize).map { _ =>
        val v = fresh { () =>
          val v = base.clone()
          val edits = math.max(1, (v.length * editFrac).round.toInt)
          sample(er.nextLong(), 8, v.length, edits).foreach { p =>
            var t = token(er)
            while (t == v(p)) t = token(er)
            v(p) = t
          }
          v
        }
        texts += v.map(words).mkString(" ")
        (texts.length - 1).toLong
      }
      members.toSet + src.toLong
    }
    Corpus(texts.toArray, exactGroups, families)
  }
}
