package graft.sources

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

/** Reads the file-pruning decision of every graft batch scan in an
  * optimized plan: (files kept, files skipped by stats/Bloom pruning). */
object PerfbenchScanProbe {
  def files(plan: LogicalPlan): (Long, Long) =
    plan.collect { case r: DataSourceV2ScanRelation => r.scan }
      .map {
        case w: V1ScanWrapper => w.v1Scan
        case s => s
      }
      .collect { case g: GraftScan =>
        (g.keptFiles.size.toLong, g.skippedFiles.size.toLong)
      }
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
