package servebench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** What a seed's set-up writes and its first reader sends. */
  private def payloads(seed: Long): Seq[String] = {
    val g = new Gen(seed)
    val reader = g.stream("reader-0")
    val tail = g.stream("tail")
    def rec(r: Rec) = s"${r.id} ${r.doc} ${r.cat} ${r.year} ${r.vec.mkString(",")}"
    g.base(200).map(rec) ++
      Seq.fill(20)(Api.queryBody(g.vector(reader), Some(g.cat(reader)), 10)) ++
      Seq.fill(5)(Api.getWhereBody(g.cat(reader), 10)) ++
      (0 until 50).map(i => rec(g.record(tail, Gen.idOf(i), 1)))
  }

  test("one seed reproduces identical payloads") {
    assert(payloads(7) == payloads(7))
  }

  test("a different seed gives different payloads") {
    val (a, b) = (payloads(7), payloads(8))
    assert(a.size == b.size)
    assert(a.zip(b).forall { case (x, y) => x != y })
  }

  test("exact top-k orders every record by cosine distance") {
    val g = new Gen(3)
    val recs = g.base(300)
    val q = g.vector(g.stream("q"))
    val all = recs.sortBy(r => Gen.cosine(q, r.vec)).map(_.id)
    assert(Gen.topK(q, recs, 10) == all.take(10))
  }
}
