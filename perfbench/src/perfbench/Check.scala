package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}

/** Order-independent digest of a frame's full output: row count plus
  * the wrapping sum and the xor of one 64-bit hash per row over every
  * output column. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def render: String = s"$rows\t${java.lang.Long.toHexString(sum)}\t${java.lang.Long.toHexString(xor)}"
}

object Digest {
  def parse(rows: String, sum: String, xor: String): Digest =
    Digest(rows.toLong, java.lang.Long.parseUnsignedLong(sum, 16),
      java.lang.Long.parseUnsignedLong(xor, 16))
}

object Check {

  /** Runs the frame's executed plan to completion — every column
    * computed, every sort kept, nothing pruned the way `count()` prunes
    * it — and folds the rows into a [[Digest]] on the executors. The
    * caller forces `executedPlan` first when it times planning apart. */
  def digest(df: DataFrame): Digest = {
    val attrs = df.queryExecution.executedPlan.output
    val hash = XxHash64(attrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    }, 42L)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L; var x = 0L
      it.foreach { row: InternalRow =>
        val h = hash.eval(row).asInstanceOf[Long]
        n += 1; s += h; x ^= h
      }
      Iterator((n, s, x))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, parts.foldLeft(0L)(_ ^ _._3))
  }
}
