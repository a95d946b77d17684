package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (name, start, end, parent, key):
  * `key` is the document or query id the span belongs to, `parent` the
  * index of the enclosing span or -1. Spans are only recorded when
  * tracing is on; otherwise [[begin]] returns -1 and [[end]] ignores it,
  * so the untraced run pays one branch per boundary.
  */
final class Tracer(val enabled: Boolean) {
  private val names = ArrayBuffer[String]()
  private val nameIds = scala.collection.mutable.HashMap[String, Int]()
  private var n = 0
  private var nameOf = new Array[Int](1024)
  private var starts = new Array[Long](1024)
  private var ends = new Array[Long](1024)
  private var parents = new Array[Int](1024)
  private var keys = new Array[Long](1024)

  def size: Int = n

  def begin(name: String, parent: Int = -1, key: Long = -1L): Int = {
    if (!enabled) return -1
    if (n == starts.length) grow()
    nameOf(n) = nameIds.getOrElseUpdate(name, { names += name; names.length - 1 })
    parents(n) = parent
    keys(n) = key
    ends(n) = -1L
    starts(n) = System.nanoTime()
    n += 1
    n - 1
  }

  def end(id: Int): Long = {
    val t = System.nanoTime()
    if (id >= 0) ends(id) = t
    t
  }

  /** Record an already-timed span. */
  def record(name: String, startNs: Long, endNs: Long, parent: Int = -1, key: Long = -1L): Int = {
    val id = begin(name, parent, key)
    if (id >= 0) { starts(id) = startNs; ends(id) = endNs }
    id
  }

  private def grow(): Unit = {
    val m = n * 2
    nameOf = java.util.Arrays.copyOf(nameOf, m)
    starts = java.util.Arrays.copyOf(starts, m)
    ends = java.util.Arrays.copyOf(ends, m)
    parents = java.util.Arrays.copyOf(parents, m)
    keys = java.util.Arrays.copyOf(keys, m)
  }

  private def dur(i: Int): Long = if (ends(i) < 0) 0L else ends(i) - starts(i)

  /** Self time (ns) per span name: each span's duration minus the part of
    * it its children cover. Children of one span never overlap here (the
    * benchmark calls layers one after another), so the covered part is
    * the children's summed duration, clipped to the parent's.
    */
  def selfTimes: Map[String, Long] = {
    val childNs = new Array[Long](n)
    var i = 0
    while (i < n) { if (parents(i) >= 0) childNs(parents(i)) += dur(i); i += 1 }
    val self = new Array[Long](names.length)
    i = 0
    while (i < n) { self(nameOf(i)) += math.max(0L, dur(i) - childNs(i)); i += 1 }
    names.indices.map(j => names(j) -> self(j)).toMap
  }

  /** Write every span as a tab-separated line: id, name, start, end,
    * parent, key (nanoTime units).
    */
  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tname\tstart_ns\tend_ns\tparent\tkey\n")
      var i = 0
      while (i < n) {
        w.write(s"$i\t${names(nameOf(i))}\t${starts(i)}\t${ends(i)}\t${parents(i)}\t${keys(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}
