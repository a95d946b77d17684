package graft.perfbench

import graft.extract.Extractor

/** One large-document input: a slice of a reference bench document. */
final case class PoolItem(id: String, bytes: Array[Byte]) {
  def sizeClass: String = Pool.sizeClass(bytes.length)
}

/** The fixed large-document pool of `engine_large` and `rewrite_large`:
  * each of the three reference bench documents (119-714 KB) cut into
  * halves, quarters and eighths plus the whole, 45 items from ~15 KB to
  * 714 KB. Cuts fall on the last `<` at or before the even split point,
  * so every slice but a document's first starts at a tag. The pool never
  * depends on the seed; the seed only picks the draw order.
  */
object Pool {
  val Docs = Seq("cloudflare.com.html", "ecma402-spec.html", "html-parsing-spec.html")
  val Parts = Seq(1, 2, 4, 8)

  def sizeClass(len: Int): String =
    if (len < (64 << 10)) "small" else if (len < (256 << 10)) "medium" else "large"

  val SizeClasses = Seq("small", "medium", "large")

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/benchdocs/$name")
    require(in != null, s"bench document $name is not on the classpath")
    try in.readAllBytes() finally in.close()
  }

  lazy val items: IndexedSeq[PoolItem] = Docs.flatMap { name =>
    val doc = resource(name)
    def cut(num: Int, den: Int): Int =
      if (num == 0) 0
      else if (num == den) doc.length
      else {
        var p = (doc.length.toLong * num / den).toInt
        while (p > 0 && doc(p) != '<') p -= 1
        p
      }
    Parts.flatMap { parts =>
      (0 until parts).map { k =>
        val (from, to) = (cut(k, parts), cut(k + 1, parts))
        PoolItem(s"${name.stripSuffix(".html")}/$parts/$k",
          java.util.Arrays.copyOfRange(doc, from, to))
      }
    }
  }.toIndexedSeq

  /** Seeded draw order over the pool: uniform with replacement, so every
    * seed sees the same size mix in expectation and a different sequence.
    */
  def draw(seed: Long, n: Int): Array[Int] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    Array.fill(n)(rng.nextInt(items.length))
  }

  // ---- digests of outputs ----

  private def mix(h: Long, v: Long): Long = (h ^ v) * 0x100000001B3L

  /** Digest of one `extractRaw` result: every span's kind, range and
    * media index, plus the error string.
    */
  def spansDigest(r: Extractor#RawSpans): Long = {
    var h = mix(0xCBF29CE484222325L, r.count)
    var i = 0
    while (i < r.count) {
      h = mix(h, r.kinds(i)); h = mix(h, r.starts(i))
      h = mix(h, r.ends(i)); h = mix(h, r.mediaIdx(i))
      i += 1
    }
    mix(h, if (r.error == null) 0 else r.error.hashCode)
  }

  /** Digest of rewritten output bytes: length and CRC32C. */
  def bytesDigest(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(b, 0, b.length)
    (b.length.toLong << 32) ^ c.getValue
  }

  /** Expected digests per pool item, stored with the benchmark. */
  final case class Expected(spans: Long, out: Long)

  val DigestResource = "/graft/perfbench/pool_digests.tsv"

  def expected(): Map[String, Expected] = {
    val in = getClass.getResourceAsStream(DigestResource)
    require(in != null, s"$DigestResource is not on the classpath")
    val lines = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    lines.split("\n").iterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      f(0) -> Expected(java.lang.Long.parseUnsignedLong(f(2), 16),
        java.lang.Long.parseUnsignedLong(f(3), 16))
    }.toMap
  }

  /** Whether a call's output digest is the stored one for its item. */
  def matches(expected: Map[String, Expected], item: PoolItem, digest: Long, rewrite: Boolean): Boolean =
    expected.get(item.id).exists(e => digest == (if (rewrite) e.out else e.spans))

  def digestLine(item: PoolItem, spans: Long, out: Long): String =
    s"${item.id}\t${item.bytes.length}\t${java.lang.Long.toHexString(spans)}\t${java.lang.Long.toHexString(out)}"
}
