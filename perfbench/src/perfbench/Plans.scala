package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan inspection for the traced run. */
object Plans extends AdaptiveSparkPlanHelper {

  /** File scans in one executed plan (adaptive stages and subqueries
    * included) that repeat an earlier scan's files and read schema.
    * Reused exchanges are leaves here, so a reuse is not counted. */
  def dupScans(plan: SparkPlan): Int = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toString).sorted.mkString(","),
        s.requiredSchema.catalogString)
    }
    scans.size - scans.distinct.size
  }

  /** Largest generated-method bytecode seen by the JVM so far. */
  def codegenMaxMethodBytes: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
      .getSnapshot.getMax
}
