package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("one seed gives one input set; another seed gives another") {
    assert(new Knn(7).inputDigest === new Knn(7).inputDigest)
    assert(new Knn(7).inputDigest !== new Knn(8).inputDigest)
    def ingest(seed: Long) = {
      val w = new IngestCurate(seed)
      w.batchDocs(3)
      w.inputDigest
    }
    assert(ingest(7) === ingest(7))
    assert(ingest(7) !== ingest(8))
  }

  test("micro-batches carry the planted families at about their stated rates") {
    val s = new Gen.DocStream(3, 8)
    s.cleanDocs(200, 1, corpus = true)
    val docs = (0 until 20).flatMap(s.batch(_, 500))
    def rate(kind: String) = docs.count(_.kind == kind).toDouble / docs.size
    assert(math.abs(rate("exact_dup") - Gen.ExactDupRate) < 0.01)
    assert(math.abs(rate("near_dup") - Gen.NearDupRate) < 0.01)
    assert(math.abs(rate("junk") - Gen.JunkRate) < 0.01)
    assert(math.abs(rate("foreign") - Gen.ForeignRate) < 0.01)
    // a planted exact duplicate copies an earlier document verbatim
    val byId = docs.map(d => d.id -> d).toMap
    docs.filter(_.kind == "exact_dup").foreach { d =>
      assert(d.source < d.id)
      byId.get(d.source).foreach { src =>
        assert(src.text === d.text)
        assert(src.emb.sameElements(d.emb))
      }
    }
    assert(docs.map(_.id).distinct.size === docs.size)
  }
}
