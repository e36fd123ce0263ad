package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Entry point of one benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  [--clients <n>]`.
  * Prints report lines, then one JSON result line last. Every file it
  * writes lives under `--work`. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = Settings(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = new File(need("work")).getAbsoluteFile,
      cpus = cpus,
      clients = kv.get("clients").map(_.toInt).getOrElse(cpus))
    require(Workloads.Names.contains(s.workload),
      s"unknown workload ${s.workload}; one of ${Workloads.Names.mkString(", ")}")
    s.work.mkdirs()

    val spark = session(s)
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(stats)
    val out =
      try Some(new Bench(spark, stats, s).run())
      catch { case e: Throwable => e.printStackTrace(); None }
      finally spark.stop()
    // exit explicitly, so no thread left behind can keep the JVM alive
    out.foreach(o => println(json(o)))
    System.exit(if (out.isDefined) 0 else 1)
  }

  private def session(s: Settings): SparkSession = {
    val spark = Sessions.builder(s"local[${s.cpus}]", s.cpus)
      .config("spark.local.dir", new File(s.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(s.work, "spark-warehouse").getPath)
      .config("spark.hadoop.fs.cfs.impl", classOf[CountingFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def json(o: Outcome): String = {
    val ms = o.metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
