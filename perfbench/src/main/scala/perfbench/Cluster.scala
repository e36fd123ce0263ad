package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DomainSpec
import graft.store.{DomainStore, KvDomainReader, KvServer, RemoteKvReader, RingClient, ShardRing}

/** Shape of a workload's domain and ring. */
final case class Layout(
    format: String, shards: Int, keys: Int, valueLen: Int,
    hosts: Int, replication: Int)

/** One timed call into the publish half (write, patch, pull of the first
  * version, localize of a later one, open, refresh), with what it moved. */
final case class Op(
    kind: String, startMs: Long, endMs: Long, nanos: Long,
    shardsRewritten: Int = 0, shardsCarried: Int = 0,
    shardsPulled: Int = 0, shardsReused: Int = 0, bytesWritten: Long = 0L)

/** A published domain served by a ring of in-process KvServers on
  * loopback, built the way a deployment builds it: write version 1, each
  * host pulls its shards and serves them, then one patch publishes
  * version 2 and every host pulls the delta and hot-swaps. Every call
  * goes through graft's public API; the benchmark only wraps the readers
  * it hands over and the filesystem it registers. */
final class Cluster(
    spark: SparkSession,
    val layout: Layout,
    val seed: Long,
    dir: File,
    tracer: Tracer,
    ops: ArrayBuffer[Op]) extends AutoCloseable {

  val DomainName = "bench"
  val conf: Configuration = CountingFs.register(new Configuration())
  private val root = CountingFs.path(new File(dir, "domain").getAbsolutePath)
  val hosts: Seq[String] = (0 until layout.hosts).map(h => s"host-$h")
  val ring: ShardRing.Index = ShardRing.generateIndex(hosts, layout.shards, layout.replication)
  private def localRoot(h: String) = new Path(CountingFs.path(new File(dir, h).getAbsolutePath))

  @volatile var state: Gen.State = Gen.State.initial(layout.keys, layout.valueLen)
  /** States a read may legitimately see right now: during a swap, the
    * old and the new one. */
  @volatile var accepted: (Gen.State, Gen.State) = (state, state)
  var version: Int = 1

  val store: DomainStore = DomainStore.create(
    root, DomainSpec(layout.shards, persistenceFormat = layout.format), conf)

  private def timed[A](kind: String)(body: => A)(detail: (Op, A) => Op): A =
    tracer.span(s"${Cluster.layerOf(kind)}.$kind") {
      val w0 = CountingFs.writtenBytes.sum()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = body
      val op = Op(kind, ms0, System.currentTimeMillis(), System.nanoTime() - t0,
        bytesWritten = CountingFs.writtenBytes.sum() - w0)
      ops.synchronized(ops += detail(op, r))
      r
    }

  private def kvFrame(rows: Seq[(Array[Byte], Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "value")
  }

  timed("write") {
    import spark.implicits._
    val (s, n, len) = (seed, layout.keys, layout.valueLen)
    val df = spark.range(0L, n.toLong, 1L, math.max(4, spark.sparkContext.defaultParallelism))
      .map(i => (Gen.key(s, i), Gen.value(s, i, 1, len)))
      .toDF("key", "value")
    store.write(df, 1L)
  }((op, _) => op.copy(shardsRewritten = layout.shards))

  private val readers: Map[String, KvDomainReader] = hosts.map { h =>
    localize(h, 1L, keepFloor = -1L)
    h -> timed("open")(KvDomainReader.open(localRoot(h).toString, conf, Some(ring.shardSet(h))))(
      (op, _) => op)
  }.toMap

  val served: Map[String, Traced] =
    readers.map { case (h, r) => h -> new Traced("reader", r, tracer, byContent = false) }
  private val servers: Map[String, KvServer] =
    served.map { case (h, r) => h -> new KvServer(Map(DomainName -> r)) }
  val stubs: Map[String, Traced] = servers.map { case (h, s) =>
    h -> new Traced(
      "remote", new RemoteKvReader("127.0.0.1", s.boundPort, DomainName), tracer, byContent = true)
  }
  val client: RingClient =
    new RingClient(ring, stubs, rnd = Gen.rnd(seed, 7L), knownShardCount = Some(layout.shards))

  /** Pull version `v` onto host `h`; `keepFloor` is the version the host
    * still serves, which the pull's local clean-up must keep. */
  private def localize(h: String, v: Long, keepFloor: Long): Unit =
    timed(if (v == 1L) "pull" else "localize") {
      store.localizeVersionForHost(v, localRoot(h), ring, h, keepFloor = keepFloor)
    }((op, d) => op.copy(shardsPulled = d.transferred.size, shardsReused = d.reused.size))

  /** Publish one patch (`upserts` new values, `deletes` removed) as the
    * next version, then pull it onto every host and hot-swap. Reads
    * running beside it may see the old or the new state until the last
    * host has swapped. */
  def patchCycle(cycle: Int, upserts: Int, deletes: Int): Gen.Delta = {
    val d = Gen.delta(seed, cycle, state, upserts, deletes)
    val v = version + 1
    val next = state.applied(d, v)
    accepted = (state, next)
    val (s, len) = (seed, layout.valueLen)
    timed("patch") {
      store.patch(spark,
        Some(kvFrame(d.upserts.toSeq.map(i => (Gen.key(s, i.toLong), Gen.value(s, i.toLong, v, len))))),
        Some(kvFrame(d.deletes.toSeq.map(i => (Gen.key(s, i.toLong), Array.emptyByteArray)))
          .select("key")),
        v.toLong)
    } { (op, _) =>
      val origins = Cluster.origins(new File(dir, s"domain/$v/_origins.json"))
      op.copy(
        shardsRewritten = origins.count(_._2 == v.toLong),
        shardsCarried = origins.count(_._2 < v.toLong) + store.linkFootprint(v.toLong).linkedShards)
    }
    hosts.foreach { h =>
      localize(h, v.toLong, keepFloor = readers(h).servedVersion)
      timed("refresh")(stubs(h).refresh())((op, _) => op)
    }
    store.versions.cleanup(3)
    version = v
    state = next
    accepted = (next, next)
    d
  }

  /** Stop serving on `host`: its server closes, so its replicas fail over. */
  def closeHost(host: String): Unit = servers(host).close()

  /** Sum of one counter over every live server's metrics. */
  def serverCounter(name: String): Long =
    servers.values.toSeq.map(s => s.metricsSnapshot().toMap.getOrElse(name, 0L)).sum

  /** Bytes on disk of the served version under the domain root. */
  def storedBytes: Long = Cluster.du(new File(dir, s"domain/$version"))

  override def close(): Unit = {
    client.close()
    servers.values.foreach(_.close())
    readers.values.foreach(_.close())
  }
}

object Cluster {
  def layerOf(kind: String): String = kind match {
    case "write" | "patch" => "publish"
    case "pull" | "localize" => "localize"
    case _ => "reader"
  }

  /** Shard → version that last rewrote it, from a version's provenance
    * manifest (a flat JSON object of integers). */
  def origins(f: File): Map[Int, Long] =
    if (!f.exists()) Map.empty
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"?(\\d+)\"?\\s*:\\s*(\\d+)".r.findAllMatchIn(s)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    }

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.filterNot(_.getName.endsWith(".crc")).map(du).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
