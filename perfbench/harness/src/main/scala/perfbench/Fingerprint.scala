package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Row count and an order-independent hash of every output row. The
  * action runs the full physical plan of the frame (nothing like
  * `count()`'s column pruning can drop an operator) and hashes each row's
  * complete UnsafeRow encoding, so every output column is materialized. */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val qe = df.queryExecution
    // a named SQL execution, as a real action runs: listeners see it and
    // its jobs carry the execution id
    val parts = SQLExecution.withNewExecutionId(qe, Some("fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => proj(other)
          }
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
