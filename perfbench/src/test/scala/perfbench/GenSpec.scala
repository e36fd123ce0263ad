package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString

  test("the same seed gives the same keys and values; another seed does not") {
    val a = (0L until 1000L).map(i => hex(Gen.key(7L, i)))
    assert(a === (0L until 1000L).map(i => hex(Gen.key(7L, i))))
    assert(a.toSet.size === 1000) // keys never collide
    assert(a !== (0L until 1000L).map(i => hex(Gen.key(8L, i))))
    assert(hex(Gen.value(7L, 3L, 2, 100)) === hex(Gen.value(7L, 3L, 2, 100)))
    assert(Gen.value(7L, 3L, 2, 100).length === 100)
    assert(hex(Gen.value(7L, 3L, 2, 100)) !== hex(Gen.value(7L, 3L, 3, 100)))
  }

  test("the same seed gives the same request sequence") {
    def requests(seed: Long) = {
      val r = Gen.rnd(seed, 12L)
      val z = new Gen.Zipf(5000, 0.99)
      Seq.fill(2000)(Gen.pointIndex(r, 5000, 0.1, z.draw))
    }
    val a = requests(3L)
    assert(a === requests(3L))
    assert(a !== requests(4L))
    val absent = a.count(_ >= 5000).toDouble / a.size
    assert(absent > 0.07 && absent < 0.13)
    // Zipf(0.99): the hottest key is drawn far more often than a cold one
    assert(a.count(_ == 0L) > 10 * math.max(1, a.count(_ == 4000L)))
    val b = Gen.batch(Gen.rnd(3L, 200L), 5000, 1000, 0.3)
    assert(b.toSeq === Gen.batch(Gen.rnd(3L, 200L), 5000, 1000, 0.3).toSeq)
  }

  test("the same seed gives the same patch sequence, and each patch is consistent") {
    def patches(seed: Long) = {
      var st = Gen.State.initial(2000, 16)
      (1 to 5).map { c =>
        val d = Gen.delta(seed, c, st, 32, 8)
        assert(d.upserts.length === 32 && d.deletes.length === 8)
        assert((d.upserts.toSet intersect d.deletes.toSet).isEmpty)
        assert((d.upserts ++ d.deletes).forall(st.present))
        st = st.applied(d, c + 1)
        assert(d.deletes.forall(i => st.expected(seed, i.toLong).isEmpty))
        assert(d.upserts.forall(i =>
          st.expected(seed, i.toLong).map(hex) === Some(hex(Gen.value(seed, i.toLong, c + 1, 16)))))
        (d.upserts.toSeq, d.deletes.toSeq)
      }
    }
    assert(patches(5L) === patches(5L))
    assert(patches(5L) !== patches(6L))
  }

  test("the same seed gives the same documents; only the planted copies share a text") {
    val d = Pipelines.docs(9L)
    assert(d === Pipelines.docs(9L))
    assert(d.corpus !== Pipelines.docs(10L).corpus)
    assert(d.corpus.map(_._1) === (0L until Pipelines.CorpusDocs.toLong))
    assert(d.incoming.map(_._1).min === Pipelines.CorpusDocs.toLong)
    assert(d.copyOf.size === Pipelines.IncomingDocs / Pipelines.PlantEvery)
    val texts = (d.corpus ++ d.incoming).toMap
    assert(d.copyOf.forall { case (in, src) => texts(in) == texts(src) })
    // every pair of equal texts is an incoming copy and its original, or
    // two copies of one original
    val pairs = Pipelines.sameTextPairs(d.corpus ++ d.incoming)
    val originals = d.copyOf.toSeq.groupBy(_._2).map { case (src, ins) => src -> ins.map(_._1) }
    val expected = originals.toSeq.flatMap { case (src, ins) =>
      Pipelines.sameTextPairs((src +: ins).map(i => i -> "")).toSeq
    }.toSet
    assert(pairs === expected)
  }

  test("keys at or above the key count are absent in every state") {
    val st = Gen.State.initial(100, 16)
    assert(st.expected(1L, 100L).isEmpty)
    assert(st.expected(1L, 99L).isDefined)
  }
}
