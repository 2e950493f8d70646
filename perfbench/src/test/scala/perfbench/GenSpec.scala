package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(xs: Seq[Any]): Array[Byte] = xs.mkString("\n").getBytes("UTF-8")

  test("the same seed gives byte-identical inputs; another seed does not") {
    assert(bytes(Gen.ehrCorpus(7, 40)) sameElements bytes(Gen.ehrCorpus(7, 40)))
    assert(!(bytes(Gen.ehrCorpus(7, 40)) sameElements bytes(Gen.ehrCorpus(8, 40))))
    for (gen <- Seq[Long => Gen.Cdc[_]](Gen.docStream(_, 34, 30), Gen.custStream(_, 34, 50))) {
      val (a, b, c) = (gen(7), gen(7), gen(8))
      assert(bytes(a.records ++ a.batches) sameElements bytes(b.records ++ b.batches))
      assert(!(bytes(a.records ++ a.batches) sameElements bytes(c.records ++ c.batches)))
    }
  }

  test("EHR corpus: every record parses, ids are unique, field values repeat at about the stated share") {
    val docs = Gen.ehrCorpus(3, 400).map(org.json4s.jackson.JsonMethods.parse(_))
    val ids = docs.map(d => (d \ "record_id").values.toString)
    assert(ids.distinct.size == ids.size)
    val values = for (d <- docs; f <- Gen.ehrFields) yield (f, org.json4s.jackson.JsonMethods.compact(d \ f))
    val counts = values.groupBy(identity).view.mapValues(_.size).toMap
    val repeated = values.count(v => counts(v) > 1).toDouble / values.size
    assert(math.abs(repeated - Gen.ehrRepeatShare) < 0.06, s"repeated share $repeated")
  }

  test("CDC streams: deletes, re-adds and planted near-duplicates at the stated shares") {
    val s = Gen.docStream(5, 34, 30)
    val adds = s.batches.map(_.count(_.op == "add"))
    val dels = s.batches.map(_.count(_.op == "delete"))
    assert(dels.head == 0)
    assert(dels.tail.forall(d => d > 0 && d <= math.round(Gen.deleteShare * 30)))
    // no key is added and deleted in one batch
    assert(s.batches.forall(b => b.filter(_.op == "add").map(_.key).toSet
      .intersect(b.filter(_.op == "delete").map(_.key).toSet).isEmpty))
    // re-adds: keys deleted exactly two batches earlier, about half of them
    val reAdds = s.batches.indices.flatMap(i => s.batches(i).filter(o =>
      o.op == "add" && o.key < (i * 30).toLong).map(o => (i, o.key)))
    assert(reAdds.forall { case (i, k) => s.batches(i - 2).exists(o => o.op == "delete" && o.key == k) })
    val eligible = dels.indices.filter(_ + 2 < 34).map(dels).sum
    assert(math.abs(reAdds.size.toDouble / eligible - Gen.reAddShare) < 0.2)
    assert(adds.sum == 34 * 30 + reAdds.size)
    // a planted near-duplicate shares all but one token with an earlier document
    val texts = s.records.map(_.text.split(" ").toSeq)
    val planted = texts.indices.count(i => texts.take(i).exists(t =>
      t.length == texts(i).length && t.zip(texts(i)).count { case (a, b) => a != b } <= 1))
    assert(math.abs(planted.toDouble / texts.size - Gen.nearDupShare) < 0.06)
    val c = Gen.custStream(5, 34, 50)
    val names = c.records.map(_.name)
    val typos = names.indices.count(i => names.take(i).exists(n =>
      n != names(i) && math.abs(n.length - names(i).length) <= 1 &&
        levenshtein(n, names(i)) == 1))
    assert(math.abs(typos.toDouble / names.size - Gen.nearDupShare) < 0.06)
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
    d(a.length)(b.length)
  }
}
