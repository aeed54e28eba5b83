package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * JVM side of the benchmark: runs one workload in one session and writes
 * `<work>/result.json` with the raw samples, checks and counters. The
 * Python front end (`perfbench/run.py`) builds this, checks the query results
 * against the DuckDB oracles and turns the samples into metrics.
 *
 *   graftbench.Main --workload <flagship|curation> --seed <n>
 *     --seconds <s> --trace <0|1> --cores <n> --work <dir>
 *     [--data <tables dir>] [--docs <n>] [--inject-wrong 1]
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, data: String, docs: Long,
                        injectWrong: Boolean)

  type Report = mutable.LinkedHashMap[String, Any]

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("cores").toInt, o("work"), o.getOrElse("data", ""), o.getOrElse("docs", "0").toLong,
      o.get("inject-wrong").contains("1"))
    val rep: Report = mutable.LinkedHashMap.empty
    var spark = session(a.cores, a.work)
    val cpu = new RequestCpu
    spark.sparkContext.addSparkListener(cpu)
    rep("session_s") = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3
    rep("session_cpu_s") = Host.processCpuS
    rep("spark_version") = spark.version
    rep("jdk") = System.getProperty("java.vm.name") + " " + System.getProperty("java.version")
    rep("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    a.workload match {
      case "flagship" => spark = Flagship.run(spark, a, rep, cpu)
      case "curation" => QueryLoop.run(spark, a, rep, cpu)
      case w => sys.error(s"unknown workload $w")
    }
    rep("retained_heap_mb") = Host.retainedHeapMb()
    val w = new java.io.PrintWriter(s"${a.work}/result.json", "UTF-8")
    try w.write(Json(rep)) finally w.close()
    spark.stop()
  }

  /** One local session: `cores` task slots and shuffle partitions, scratch
    * and warehouse under the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Room for every class the workload generates: with the default 100
      // entries the curation queries evict each other's code and recompile
      // 0-46 classes per request, depending on the order drawn from the
      // seed, which swung a pass's CPU by a quarter.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with every Spark job it starts tagged with `group`; the
    * enclosing group, if any, is restored afterwards. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally outer match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }
}
