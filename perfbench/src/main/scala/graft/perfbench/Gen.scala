package graft.perfbench

import graft.spark.InterleavedGen.DocRow

/** Seeded generator of `documents`-shaped rows (doc_id, text, lang,
  * source, n_chars): 10-100 words from a 30-word vocabulary, as in the
  * repository's synthetic test tables, with ~5% of documents a copy of
  * an earlier one plus a marker word so exact and near duplicates exist
  * beyond the variants the dedup queries plant themselves. The same seed
  * gives the same rows in the same order; the row order is shuffled by
  * the seed too.
  */
object Gen {
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")

  def documents(seed: Long, n: Int): IndexedSeq[DocRow] = {
    val rng = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      texts(i) =
        if (i > 0 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else {
          val words = 10 + rng.nextInt(91)
          val b = new StringBuilder
          var w = 0
          while (w < words) {
            if (w > 0) b += ' '
            b ++= Vocabulary(rng.nextInt(Vocabulary.length))
            w += 1
          }
          b.toString
        }
      i += 1
    }
    val rows = (0 until n).map { id =>
      DocRow(id.toLong, texts(id), Langs(rng.nextInt(Langs.length)), s"src${id % 20}",
        texts(id).length.toLong)
    }
    // seeded row order (Fisher-Yates)
    val order = Array.tabulate(n)(identity)
    var k = n - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = order(k); order(k) = order(j); order(j) = t
      k -= 1
    }
    order.toIndexedSeq.map(rows)
  }
}
