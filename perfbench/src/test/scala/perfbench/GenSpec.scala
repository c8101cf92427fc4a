package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def gen(seed: Long) = Gen.ingest(seed, keys = 2000, batchRows = 16, nBatches = 60)

  test("the same seed reproduces the same history, batch rows and mix shares") {
    val a = gen(7)
    val b = gen(7)
    assert(a.history.toSeq == b.history.toSeq)
    assert(a.batches.map(_.toSeq).toSeq == b.batches.map(_.toSeq).toSeq)
    assert(a.kinds.map(_.toSeq).toSeq == b.kinds.map(_.toSeq).toSeq)
    assert(Gen.shares(a.kinds.toSeq) == Gen.shares(b.kinds.toSeq))
  }

  test("another seed gives other rows") {
    assert(gen(7).batches.head.toSeq != gen(8).batches.head.toSeq)
  }

  test("every (id, updated_at) is unique and every batch holds distinct keys") {
    val g = gen(7)
    val all = g.history.toSeq ++ g.batches.toSeq.flatten
    assert(all.map(r => (r.getLong(0), r.get(4))).distinct.size == all.size)
    g.batches.foreach(b => assert(b.map(_.getLong(0)).distinct.length == b.length))
  }

  test("the mix is close to its target shares") {
    val g = Gen.ingest(3, keys = 20000, batchRows = 16, nBatches = 400)
    val shares = Gen.shares(g.kinds.toSeq).toMap
    for ((kind, target) <- Gen.Mix)
      assert(math.abs(shares(kind) - target) < 0.015, s"$kind: ${shares(kind)} vs $target")
  }

  test("deletes set deleted_at to updated_at, other rows leave it null") {
    val g = gen(7)
    for ((rows, kinds) <- g.batches.zip(g.kinds); (r, k) <- rows.zip(kinds)) {
      if (k == Gen.Delete) assert(r.get(5) == r.get(4))
      else assert(r.isNullAt(5))
    }
  }
}
