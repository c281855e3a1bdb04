package perfbench

import org.apache.spark.sql.SparkSession

/** A fixed list of the engine's driver entries (`graft.SparkEntry.queries`)
  * over generated tables, run in a fixed order, one operation each. The
  * timed part builds the entry's DataFrame and collects it; the row count
  * and content hash ([[Canon]]) are taken after the clock stops and
  * compared with committed expected values by pb/batch_check.py.
  */
final class Batch(spark: SparkSession, rec: Recorder, inputs: String) extends Workload {
  private val order = Batch.readLines(s"$inputs/order.txt")
  private val queries = graft.SparkEntry.queries

  def outputDirs: Seq[String] = Seq(sys.props("java.io.tmpdir"))

  def setup(): Unit = {
    val missing = order.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")
    graft.Tables.t(spark, s"$inputs/tables", "nation").count()
  }

  def run(pass: Int): Unit =
    order.foreach { name =>
      var result: Array[org.apache.spark.sql.Row] = null
      var cols: Seq[String] = Nil
      val o = rec.op(name, Batch.family(name), pass) { _ =>
        val df = rec.span(s"queries.${Batch.family(name)}") {
          queries(name)(spark, s"$inputs/tables")
        }
        cols = df.columns.toSeq
        result = rec.span("collect") { df.collect() }
      }
      if (result != null) {
        val (rows, hash) = Canon.hash(cols, result)
        o.info("rows") = rows
        o.info("hash") = hash
      }
    }
}

object Batch {
  /** The non-blank lines of a text file, trimmed. */
  def readLines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  /** Entry family: the letters before the first digit ("sql", "t", ...). */
  def family(name: String): String = name.takeWhile(c => !c.isDigit && c != '_')
}
