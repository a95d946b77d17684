package graft.perfbench

import graft.core.IntBuf
import graft.extract.{ExtractPolicy, Extractor}
import graft.spark.{ExtractPipeline, ExtractedDoc, InterleavedDoc, InterleavedGen}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val expected = Pool.expected()

  test("stored digests match this code on every pool item") {
    val ex = new Extractor(ExtractPolicy.Default)
    val rw = EngineBench.newRewriter()
    for (it <- Pool.items) {
      val spans = Pool.spansDigest(ex.extractRaw(it.bytes, it.bytes.length, new IntBuf(1)))
      assert(Pool.matches(expected, it, spans, rewrite = false), it.id)
      assert(Pool.matches(expected, it, Pool.bytesDigest(rw.rewriteToBytes(it.bytes)), rewrite = true), it.id)
    }
  }

  test("an injected span mismatch fails the extraction check") {
    val it = Pool.items.head
    val r = new Extractor(ExtractPolicy.Default).extractRaw(it.bytes, it.bytes.length, new IntBuf(1))
    assert(Pool.matches(expected, it, Pool.spansDigest(r), rewrite = false))
    r.ends(r.count / 2) += 1
    assert(!Pool.matches(expected, it, Pool.spansDigest(r), rewrite = false))
    r.ends(r.count / 2) -= 1
    r.error = "parsing_ambiguity:select"
    assert(!Pool.matches(expected, it, Pool.spansDigest(r), rewrite = false))
  }

  test("an injected output-byte mismatch fails the rewrite check") {
    val it = Pool.items.last
    val out = EngineBench.newRewriter().rewriteToBytes(it.bytes)
    out(out.length / 2) = (out(out.length / 2) ^ 1).toByte
    assert(!Pool.matches(expected, it, Pool.bytesDigest(out), rewrite = true))
    assert(!Pool.matches(expected, it, Pool.bytesDigest(out.dropRight(1)), rewrite = true))
  }

  test("an unknown pool item never passes") {
    assert(!Pool.matches(expected, PoolItem("no/such/item", Array[Byte]('<')), 0L, rewrite = false))
  }

  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]").appName("perfbench-check")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("the per-document table check passes a correct extraction and catches injected mismatches") {
    val s = spark
    import s.implicits._
    val docs = Gen.documents(5, 40)
    val rows = docs.map(d => InterleavedDoc(d.doc_id.toString, InterleavedGen.spansFor(d)))
    val want = SparkBench.wantDigests(s, docs.zip(rows).map { case (d, r) =>
      (r.doc_id, d.text, r.spans.filter(_.kind == "media").map(_.media_ref).mkString("|"))
    })
    val out = ExtractPipeline.extract(s.createDataset(rows)).cache()
    assert(SparkBench.mismatchedDocs(out.toDF(), want) == 0)

    val victim = rows.find(_.spans.count(_.kind == "media") >= 2).get.doc_id
    def inject(f: ExtractedDoc => ExtractedDoc) =
      out.map(d => if (d.doc_id == victim) f(d) else d).toDF()
    // a changed character in one text span
    val textChanged = inject { d =>
      val i = d.spans.indexWhere(_.kind == "text")
      d.copy(spans = d.spans.updated(i, d.spans(i).copy(text = d.spans(i).text + "x")))
    }
    assert(SparkBench.mismatchedDocs(textChanged, want) == 1)
    // media refs out of order
    val mediaSwapped = inject { d =>
      val refs = d.spans.filter(_.kind == "media").map(_.media_ref).reverse.iterator
      d.copy(spans = d.spans.map(sp => if (sp.kind == "media") sp.copy(media_ref = refs.next()) else sp))
    }
    assert(SparkBench.mismatchedDocs(mediaSwapped, want) == 1)
    // an error on an otherwise intact document
    assert(SparkBench.mismatchedDocs(inject(_.copy(error = "engine_error:X")), want) == 1)
    // a dropped document
    assert(SparkBench.mismatchedDocs(out.filter(_.doc_id != victim).toDF(), want) == 1)
  }
}
