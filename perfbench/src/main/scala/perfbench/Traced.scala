package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.store.{DomainMeta, RangePage, ServingReader}

/** Counts and spans at one serving boundary, recorded by wrapping the
  * [[ServingReader]] that a RingClient (layer `remote`) or a KvServer
  * (layer `reader`) is handed. Counting is always on; spans only while
  * the tracer is enabled. `byContent` links the keys by their bytes as
  * well, for callees on the far side of a socket. */
final class Traced(
    layer: String,
    under: ServingReader,
    tracer: Tracer,
    byContent: Boolean) extends ServingReader {

  val calls = new LongAdder
  val keys = new LongAdder
  val absent = new LongAdder
  val failures = new LongAdder

  private def call[A](op: String, ks: Seq[Array[Byte]])(body: => A): A =
    tracer.span(s"$layer.$op", tracer.parentFor(ks)) {
      calls.increment()
      keys.add(ks.size.toLong)
      try tracer.linked(ks, byContent)(body)
      catch { case e: Exception => failures.increment(); throw e }
    }

  override def get(key: Array[Byte]): Option[Array[Byte]] = {
    val r = call("get", Seq(key))(under.get(key))
    if (r.isEmpty) absent.increment()
    r
  }

  override def multiGet(ks: Seq[Array[Byte]]): IndexedSeq[Option[Array[Byte]]] = {
    val r = call("multiGet", ks)(under.multiGet(ks))
    absent.add(r.count(_.isEmpty).toLong)
    r
  }

  override def refresh(): Boolean = tracer.span(s"$layer.refresh")(under.refresh())

  override def numShards: Int = under.numShards
  override def servedVersion: Long = under.servedVersion
  override def count(): Long = under.count()
  override def canRefresh: Boolean = under.canRefresh
  override def fullyLoaded: Boolean = under.fullyLoaded
  override def updateAll(): (Int, Int) = under.updateAll()
  override def rangePage(
      from: Option[Array[Byte]], fromInclusive: Boolean,
      to: Option[Array[Byte]], toInclusive: Boolean,
      maxRecords: Int, maxBytes: Long, shards: Option[Set[Int]]): RangePage =
    under.rangePage(from, fromInclusive, to, toInclusive, maxRecords, maxBytes, shards)
  override def metadata(): DomainMeta = under.metadata()
  override def close(): Unit = under.close()
}
