package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, name: String, start: Long, end: Long) =
    Span(id, 1L, parent, name, start, end)

  test("covered time counts overlapping intervals once and clips to the parent") {
    assert(Trace.covered(0, 100, Seq((10L, 60L), (20L, 80L))) === 70)
    assert(Trace.covered(0, 100, Seq((10L, 20L), (30L, 40L))) === 20)
    assert(Trace.covered(0, 100, Seq((-5L, 10L), (90L, 120L))) === 20)
    assert(Trace.covered(0, 100, Nil) === 0)
    assert(Trace.covered(0, 100, Seq((10L, 20L), (10L, 20L), (15L, 18L))) === 10)
  }

  test("self time of a ring call fanning out to two remote hosts in parallel") {
    val spans = Seq(
      span(1, 0, "ring.multiGet", 0, 100),
      span(2, 1, "remote.multiGet", 10, 60), // host a
      span(3, 1, "remote.multiGet", 20, 80), // host b, overlapping a
      span(4, 2, "reader.multiGet", 15, 55),
      span(5, 3, "reader.multiGet", 25, 45),
      span(6, 3, "reader.multiGet", 40, 70)) // two frames, overlapping
    val self = Trace.selfTimes(spans)
    assert(self(1) === 30) // 100 - union [10, 80)
    assert(self(2) === 10) // 50 - 40
    assert(self(3) === 15) // 60 - union [25, 70)
    assert(self(4) === 40 && self(5) === 20 && self(6) === 30)
    val layers = Trace.byLayer(spans)
    assert(layers("ring") === Trace.Row(1, 100, 30))
    assert(layers("remote") === Trace.Row(2, 110, 25))
    assert(layers("reader") === Trace.Row(3, 90, 90))
    // every nanosecond of the root is someone's self time, except where
    // parallel children overlap (then their self times add up to more)
    assert(self.values.sum >= 100)
  }

  test("self time of nested spans on one thread") {
    val spans = Seq(
      span(1, 0, "ring.get", 0, 50),
      span(2, 1, "remote.get", 5, 45),
      span(3, 2, "reader.get", 10, 30))
    assert(Trace.selfTimes(spans) === Map(1L -> 10L, 2L -> 20L, 3L -> 20L))
  }

  test("the tracer nests spans on a thread and links children on other threads by key") {
    val t = new Tracer
    t.enabled = true
    val key = Array[Byte](1, 2, 3)
    val sameBytes = Array[Byte](1, 2, 3)
    t.span("ring.multiGet") {
      t.linked(Seq(key), byContent = false) {
        val th = new Thread(() => t.span("remote.multiGet", t.parentFor(Seq(key)))(()))
        th.start(); th.join()
      }
      t.linked(Seq(key), byContent = true) {
        val th = new Thread(() => t.span("reader.get", t.parentFor(Seq(sameBytes)))(()))
        th.start(); th.join()
      }
      t.span("publish.patch")(())
    }
    val byName = t.recorded.map(s => s.name -> s).toMap
    val root = byName("ring.multiGet")
    assert(root.parent === 0L)
    Seq("remote.multiGet", "reader.get", "publish.patch").foreach { n =>
      assert(byName(n).parent === root.id, n)
      assert(byName(n).trace === root.trace, n)
    }
    t.enabled = false
    t.span("ring.get")(())
    assert(t.recorded.size === 4) // a disabled tracer records nothing
  }

  test("a fan-out thread finds the ring call, and the server thread finds the stub") {
    val t = new Tracer
    t.enabled = true
    val keys = Seq(Array[Byte](1), Array[Byte](2))
    t.span("ring.multiGet") {
      t.linked(keys, byContent = false) {
        val fanOut = new Thread(() =>
          t.span("remote.multiGet", t.parentFor(keys)) {
            t.linked(keys, byContent = true) {
              val server = new Thread(() =>
                t.span("reader.multiGet", t.parentFor(Seq(Array[Byte](1))))(()))
              server.start(); server.join()
            }
          })
        fanOut.start(); fanOut.join()
      }
    }
    val byName = t.recorded.map(s => s.name -> s).toMap
    assert(byName("remote.multiGet").parent === byName("ring.multiGet").id)
    assert(byName("reader.multiGet").parent === byName("remote.multiGet").id)
    assert(byName.values.map(_.trace).toSet.size === 1)
  }
}
