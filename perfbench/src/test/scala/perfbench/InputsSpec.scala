package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def flat(vs: Inputs.VectorSet) =
    Seq(vs.base, vs.extra, vs.queries).map(_.map(_.toSeq).toSeq)

  test("the same seed yields identical vectors, a different seed different ones") {
    val a = Inputs.vectors(7, dim = 16, n = 200, nExtra = 20, nQueries = 30, clusters = 4)
    val b = Inputs.vectors(7, dim = 16, n = 200, nExtra = 20, nQueries = 30, clusters = 4)
    val c = Inputs.vectors(8, dim = 16, n = 200, nExtra = 20, nQueries = 30, clusters = 4)
    assert(flat(a) == flat(b))
    assert(flat(a) != flat(c))
  }

  test("input sizes do not shift the other roles' streams") {
    val small = Inputs.vectors(7, dim = 16, n = 100, nExtra = 5, nQueries = 30, clusters = 4)
    val large = Inputs.vectors(7, dim = 16, n = 300, nExtra = 50, nQueries = 30, clusters = 4)
    assert(small.queries.map(_.toSeq).toSeq == large.queries.map(_.toSeq).toSeq)
    assert(small.base.map(_.toSeq).toSeq == large.base.take(100).map(_.toSeq).toSeq)
  }

  test("sample draws distinct values in range, the same for the same seed") {
    val s = Inputs.sample(3, 11, 50, 20)
    assert(s.distinct.length == 20 && s.forall(v => v >= 0 && v < 50))
    assert(s.sameElements(Inputs.sample(3, 11, 50, 20)))
  }

  private def corpus(seed: Long) = Inputs.corpus(seed, nUnique = 300, vocab = 500, minLen = 20,
    maxLen = 40, exactCopies = 10, nFamilies = 8, familySize = 3, editFrac = 0.05)

  test("the same seed yields an identical corpus and planted groups") {
    val a = corpus(5)
    val b = corpus(5)
    assert(a.texts.toSeq == b.texts.toSeq)
    assert(a.exactGroups == b.exactGroups && a.families == b.families)
    assert(a.texts.toSeq != corpus(6).texts.toSeq)
  }

  test("planted groups have the structure the dedup checks rely on") {
    val c = corpus(5)
    assert(c.texts.length == 300 + 10 + 8 * 2)
    c.exactGroups.foreach { g =>
      assert(g.size == 2 && g.map(i => c.texts(i.toInt)).size == 1)
    }
    c.families.foreach { f =>
      assert(f.size == 3 && f.map(i => c.texts(i.toInt)).size == 3)
      val lens = f.map(i => c.texts(i.toInt).split(' ').length)
      assert(lens.size == 1, "variants replace tokens, they never add or drop them")
    }
    assert((c.exactGroups ++ c.families).flatten.distinct.size == 10 * 2 + 8 * 3)
  }

  test("the only byte-identical documents are the planted copies") {
    // a tiny vocabulary and one edit per variant make accidental
    // repeats likely if the generator allowed them
    (1 to 30).foreach { seed =>
      val c = Inputs.corpus(seed, nUnique = 50, vocab = 5, minLen = 8, maxLen = 8,
        exactCopies = 5, nFamilies = 10, familySize = 4, editFrac = 0.1)
      val dupGroups = c.texts.indices.groupBy(i => c.texts(i)).values
        .filter(_.size > 1).map(_.map(_.toLong).toSet).toSet
      assert(dupGroups == c.exactGroups.toSet, s"seed $seed")
    }
  }
}
