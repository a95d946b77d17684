package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("documents are deterministic for a seed and differ across seeds") {
    val a = Gen.documents(7, 500)
    assert(a == Gen.documents(7, 500))
    val b = Gen.documents(8, 500)
    assert(a != b)
    assert(a.map(_.text) != b.map(_.text))
    assert(a.map(_.doc_id).toSet == (0L until 500L).toSet, "every id once, in a seeded order")
    assert(a.map(_.doc_id) != b.map(_.doc_id))
  }

  test("documents look like the repository's synthetic text table") {
    val docs = Gen.documents(1, 2000)
    assert(docs.forall(d => d.n_chars == d.text.length))
    val words = docs.flatMap(_.text.split(" ")).toSet
    assert(words.subsetOf(Gen.Vocabulary.toSet + "dup"))
    assert(docs.count(_.text.endsWith(" dup")) > 40, "planted exact-copy duplicates")
  }

  test("the pool draw is deterministic for a seed and differs across seeds") {
    assert(Pool.draw(3, 1000).toSeq == Pool.draw(3, 1000).toSeq)
    assert(Pool.draw(3, 1000).toSeq != Pool.draw(4, 1000).toSeq)
    assert(Pool.draw(3, 5000).toSet == Pool.items.indices.toSet, "every item is drawn")
  }

  test("the pool is 45 slices of the three bench documents, every size class present") {
    assert(Pool.items.length == 45)
    assert(Pool.items.map(_.id).distinct.length == 45)
    assert(Pool.items.map(_.sizeClass).toSet == Pool.SizeClasses.toSet)
    // slices after the first of each document start at a tag
    assert(Pool.items.filterNot(_.id.endsWith("/0")).forall(_.bytes(0) == '<'))
    assert(Pool.Docs.map(d => Pool.items.filter(_.id.startsWith(d.stripSuffix(".html") + "/"))
      .filter(_.id.contains("/8/")).map(_.bytes.length).sum).forall(_ > 100000))
  }
}
