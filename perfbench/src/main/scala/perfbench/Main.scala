package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils

/** One workload of the benchmark: set-up (untimed, part of set-up time),
  * then passes of fixed work, each with an untimed prepare and check.
  */
trait Workload {
  def setup(): Unit
  def prepare(pass: Int): Unit = ()
  def run(pass: Int): Unit
  def check(pass: Int): Unit = ()
  /** Directories whose bytes count as the run's disk footprint. */
  def outputDirs: Seq[String]
  def summary: Map[String, Any] = Map.empty
}

/** Harness entry point. Arguments come in `--key value` pairs:
  * workload, seed, seconds, trace (0|1), cores, inputs (generated input
  * directory), work (scratch directory), out (result JSON file).
  * `--oracles <entries file>` instead prints the DuckDB oracle SQL of
  * the listed batch entries as JSON and exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("oracles")) {
      val names = Batch.readLines(a("oracles"))
      val sql = graft.SparkEntry.oracleSql
      println(json.writeValueAsString(names.flatMap(n => sql.get(n).map(n -> _)).toMap))
      return
    }
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val spark = graft.Sessions.local(a("cores"))
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, traced)
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up

    val wl: Workload = a("workload") match {
      case "votes_pipeline" => new Votes(spark, rec, a("inputs"), a("work"))
      case "batch_queries" => new Batch(spark, rec, a("inputs"))
      case "incremental" => new Incremental(spark, rec, a("inputs"), a("work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup()
    val readyMs = System.currentTimeMillis()
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

    rec.install()
    val t0 = rec.now
    var pass = 0
    while (pass == 0 || rec.now - t0 < seconds) {
      wl.prepare(pass)
      rec.pass(pass)(wl.run(pass))
      rec.passes.last("disk_bytes") = wl.outputDirs.map(dirBytes).sum
      wl.check(pass)
      pass += 1
    }
    rec.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc(); Thread.sleep(200); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val out = Map(
      "provenance" -> Map(
        "spark_version" -> spark.version,
        "jvm_version" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "cores" -> a("cores")),
      "setup_jvm_s" -> (readyMs - startMs) / 1e3,
      "retained_heap_mb" -> heap / 1048576.0,
      "workload" -> wl.summary,
      "recorder" -> rec.result)
    json.writeValue(new File(a("out")), out)
    spark.stop()
    sys.exit(0)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def dirBytes(dir: String): Long = {
    val d = new File(dir)
    if (d.exists) FileUtils.sizeOfDirectory(d) else 0L
  }

  def deleteRecursively(dir: String): Unit = FileUtils.deleteDirectory(new File(dir))

  def copyRecursively(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))
}
