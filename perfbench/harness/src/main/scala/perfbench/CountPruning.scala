package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** One-off report: which keys of the benchmark mixes lose physical
  * operators when timed with `count()` instead of a full-row action.
  *
  *   CountPruning <dataDir> <out.md>
  *
  * For each key it compares the physical plan of the key's frame with the
  * plan of `frame.count()` and lists the operators only the full plan has,
  * and whether the count plan's scans read no columns at all. */
object CountPruning {
  /** The known case beside the mix keys: its count plan reads `struct<>`. */
  private val Keys = Workload.AllKeys :+ "q_text_norm"

  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val spark = Session.start(sys.props("java.io.tmpdir"))
    val queries = graft.SparkEntry.queries
    def nodes(p: SparkPlan): Seq[String] = p.collect { case n => n.nodeName }
    def emptyScans(p: SparkPlan): Int = p.collect {
      case s: FileSourceScanExec if s.requiredSchema.isEmpty => 1
      case s: BatchScanExec if s.output.isEmpty => 1
    }.size
    val rows = for (k <- Keys) yield {
      val df = queries(k)(spark, data)
      val full = nodes(df.queryExecution.sparkPlan)
      val countPlan = df.groupBy().count().queryExecution.sparkPlan
      val lost = full.diff(nodes(countPlan))
      s"| `$k` | ${if (lost.isEmpty) "—" else lost.distinct.sorted.map(n => s"$n×${lost.count(_ == n)}").mkString(", ")}" +
        s" | ${emptyScans(countPlan)} |"
    }
    val text =
      s"""# Operators `count()` prunes from the benchmark keys
         |
         |Generated by `perfbench.CountPruning` on the seed-1 inputs. For each key,
         |the physical operators present in the key's own plan but absent from
         |the plan of `count()` over it, and how many of the count plan's scans
         |read no columns (`ReadSchema: struct<>`). The benchmark never times
         |`count()`: every timed call hashes every output row.
         |
         || key | operators lost under count() | scans reading no columns |
         ||---|---|---|
         |""".stripMargin + rows.mkString("", "\n", "\n")
    Files.writeString(Paths.get(out), text)
    spark.stop()
  }
}
