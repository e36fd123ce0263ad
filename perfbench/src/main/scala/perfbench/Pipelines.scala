package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DomainSpec
import graft.operators.Dedup
import graft.store.{BloomKeyIndexer, DomainStore}

/** The Spark operator pipelines behind the repo's two slowest contract
  * queries, run through graft's public operator API on seeded generated
  * documents:
  *  - `dedup_index` (pipeline_dedup_index): publish a corpus's MinHash
  *    band index as a domain (`Dedup.bandIndexKv` + `DomainStore.write`),
  *    then find an incoming batch's near-duplicates in the corpus through
  *    it (`Dedup.dedupAgainstIndex`);
  *  - `ngram_jaccard` (dedup_ngram_jaccard): exact character n-gram
  *    Jaccard pairs over a sample (`Dedup.ngramJaccardPairs`).
  * Every document is a fresh string of random words, except the incoming
  * documents planted as verbatim copies of a corpus document. So the
  * expected output of both is known from the generator alone: the pairs
  * of documents with the same text, each at Jaccard 1.0. */
object Pipelines {
  val Names: Seq[String] = Seq("dedup_index", "ngram_jaccard")

  val CorpusDocs = 1000
  val IncomingDocs = 100
  /** Every this many incoming documents, one copies a corpus document. */
  val PlantEvery = 4
  /** Corpus documents that join the incoming ones in the Jaccard sample. */
  val SampleCorpusDocs = 200
  val WordsPerDoc = 30
  val Vocabulary = 20000
  /** Runs of each pipeline: the first compiles the JVM's and Spark's
    * code for it, the last is measured. */
  val Reps = 2

  /** Word `w` of the seed's vocabulary: 4 to 9 lowercase letters. */
  def word(seed: Long, w: Int): String = {
    val z = Gen.mix(seed ^ Gen.mix(w.toLong + 0x5EEDL))
    val len = 4 + (z & 7).toInt % 6
    (0 until len).map(j => ('a' + ((z >>> (4 + 5 * j)) & 31) % 26).toChar).mkString
  }

  private def text(seed: Long, doc: Long): String = {
    val r = Gen.rnd(seed, 5000000L + doc)
    Seq.fill(WordsPerDoc)(word(seed, r.nextInt(Vocabulary))).mkString(" ")
  }

  /** The corpus (ids `[0, CorpusDocs)`) and the incoming batch (ids from
    * `CorpusDocs` on), and for each planted incoming id its corpus
    * original. */
  final case class Docs(corpus: Seq[(Long, String)], incoming: Seq[(Long, String)], copyOf: Map[Long, Long])

  def docs(seed: Long): Docs = {
    val corpus = (0L until CorpusDocs.toLong).map(i => i -> text(seed, i))
    val r = Gen.rnd(seed, 4999L)
    val picks = (0 until IncomingDocs).map { j =>
      val id = CorpusDocs.toLong + j
      if (j % PlantEvery == 0) { val src = r.nextInt(CorpusDocs).toLong; (id, corpus(src.toInt)._2, Some(src)) }
      else (id, text(seed, id), None)
    }
    Docs(corpus, picks.map(p => p._1 -> p._2), picks.collect { case (id, _, Some(src)) => id -> src }.toMap)
  }

  /** Unordered pairs `(a, b)`, `a < b`, of the documents with equal text. */
  def sameTextPairs(docs: Seq[(Long, String)]): Set[(Long, Long)] =
    docs.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield ids(i) -> ids(j)
    }.toSet

  /** One run of one pipeline: when it ran, its wall time, the rows it
    * returned, and whether they were exactly the expected ones. */
  final case class Run(name: String, startMs: Long, endMs: Long, seconds: Double, rows: Long, ok: Boolean)

  /** Run each pipeline [[Reps]] times; an exception is a failed run. */
  def run(spark: SparkSession, seed: Long, dir: File): Seq[Run] = {
    import spark.implicits._
    val d = docs(seed)
    def frame(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    val corpus = frame(d.corpus)
    val incoming = frame(d.incoming)
    val sample = d.incoming ++ d.corpus.take(SampleCorpusDocs)
    val expectedIndex = d.copyOf.toSet
    val expectedSample = sameTextPairs(sample)

    def pairs(df: DataFrame, a: String, b: String): Seq[((Long, Long), Double)] =
      df.collect().toSeq.map(r => (r.getAs[Long](a), r.getAs[Long](b)) -> r.getAs[Double]("jaccard"))
    def matches(got: Seq[((Long, Long), Double)], expected: Set[(Long, Long)]): Boolean =
      got.size == expected.size && got.map(_._1).toSet == expected && got.forall(_._2 == 1.0)

    def timed(name: String, rep: Int)(body: => (Long, Boolean)): Run = {
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (rows, ok) =
        try body catch { case e: Exception => println(s"$name failed: $e"); (0L, false) }
      val run = Run(name, ms0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, rows, ok)
      if (!ok) println(s"answer check: $name run $rep returned other pairs than the planted copies")
      run
    }

    (1 to Reps).flatMap { rep =>
      val root = new File(dir, s"band-index-$rep")
      val index = timed("dedup_index", rep) {
        val spec = DomainSpec(
          numShards = 8, indexer = classOf[BloomKeyIndexer].getName,
          indexType = Dedup.BandIndexType, capSemantics = DomainSpec.CapTombstoneV1)
        val store = DomainStore.create(root.getAbsolutePath, spec, new Configuration())
        // failOversized: an over-full band bucket would drop planted pairs
        store.write(Dedup.bandIndexKv(corpus, "doc_id", "text", failOversized = true), 1L)
        val got = pairs(
          Dedup.dedupAgainstIndex(store, incoming, corpus, "doc_id", "text", threshold = 0.8),
          "delta_id", "corpus_id")
        (got.size.toLong, matches(got, expectedIndex))
      }
      Cluster.deleteTree(root)
      val jaccard = timed("ngram_jaccard", rep) {
        val got = pairs(Dedup.ngramJaccardPairs(frame(sample), "doc_id", "text", threshold = 0.5), "id_a", "id_b")
        (got.size.toLong, matches(got, expectedSample))
      }
      Seq(index, jaccard)
    }
  }
}
