package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}

/** A result as a canonical multiset: columns in name order, every value
  * tagged by type family (integer, floating, string, boolean, null), rows
  * sorted. Two engines agree when their tables are equal. */
final case class Table(columns: Seq[String], rows: Seq[String]) {
  def diff(want: Table): Option[String] =
    if (columns != want.columns) Some(s"columns ${columns.mkString(",")} != ${want.columns.mkString(",")}")
    else if (rows.size != want.rows.size) Some(s"${rows.size} rows != ${want.rows.size}")
    else rows.zip(want.rows).find { case (a, b) => a != b }
      .map { case (a, b) => s"row [$a] != [$b]" }
}

object Table {
  private def canon(v: Any): String = v match {
    case null => "n"
    case b: Boolean => s"b:$b"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: Float => s"d:${java.lang.Double.toString(x.toDouble)}"
    case x: Double => s"d:${java.lang.Double.toString(x)}"
    case x: java.math.BigDecimal => s"d:${java.lang.Double.toString(x.doubleValue)}"
    case x: String => s"s:$x"
    case x => s"o:$x"
  }

  private def make(cols: Seq[String], rows: Seq[Seq[String]]): Table = {
    val order = cols.indices.sortBy(cols(_))
    Table(order.map(cols), rows.map(r => order.map(r).mkString("|")).sorted)
  }

  def of(columns: Seq[String], rows: Seq[Row]): Table =
    make(columns, rows.map(r => r.toSeq.map(canon)))

  def collect(df: DataFrame): Table = of(df.columns.toSeq, df.collect().toSeq)

  /** Reads one entry of the DuckDB reference file written by oracle.py. */
  def fromOracle(node: JsonNode): Table = {
    val cols = node.get("columns").elements().asScala.map(_.asText).toSeq
    val rows = node.get("rows").elements().asScala.map { row =>
      row.elements().asScala.map { c =>
        val v = c.get(1)
        c.get(0).asText match {
          case "n" => "n"
          case "b" => s"b:${v.asBoolean}"
          case "i" => s"i:${v.bigIntegerValue}"
          case "d" => s"d:${java.lang.Double.toString(if (v.isTextual) v.asText.toDouble else v.asDouble)}"
          case _ => s"s:${v.asText}"
        }
      }.toSeq
    }.toSeq
    make(cols, rows)
  }
}

/** DuckDB reference answers: named SQL over a directory of parquet
  * datasets, run by oracle.py in a child process. `start` returns at once;
  * the returned function waits for the answers, so that set-up can warm
  * the JVM up meanwhile. */
object DuckDb {
  def start(ctx: Ctx, tablesDir: String, queries: Seq[(String, String)]): () => Map[String, Table] = {
    val qFile = new File(ctx.workDir, s"oracle-queries-${System.nanoTime}.json")
    val aFile = new File(ctx.workDir, s"oracle-answers-${System.nanoTime}.json")
    val w = new java.io.PrintWriter(qFile, "UTF-8")
    try w.print(Json.obj(queries)) finally w.close()
    val p = new ProcessBuilder(ctx.python, ctx.oracleScript, tablesDir, qFile.getPath, aFile.getPath)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    () => {
      val rc = p.waitFor()
      require(rc == 0, s"oracle.py exited with $rc")
      val root = new ObjectMapper().readTree(aFile)
      queries.map { case (n, _) => n -> Table.fromOracle(root.get(n)) }.toMap
    }
  }
}
