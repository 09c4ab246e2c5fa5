package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.TxLogRelation

/** Surfaces txlog manifest statistics to Catalyst's cost-based
  * optimizer: every `LogicalRelation` over a [[TxLogRelation]] gains a
  * synthetic CatalogTable carrying exact rowCount + per-column
  * min/max/nullCount ([[TxLogRelation.catalogTableWithStats]]), which
  * `LogicalRelation.computeStats` turns into plan statistics — so with
  * `spark.sql.cbo.enabled` the filter-selectivity estimator shrinks a
  * filtered fact to its REAL size (flipping join strategies to
  * broadcast where deserved) and join reorder sees row counts instead
  * of the byte-size guess. Injected preCBO (before join reorder, which
  * is exactly who consumes this); tables where any live file lacks
  * stats keep the plain sizeInBytes path — exactness over coverage.
  */
object TxLogCboStats extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan transformUp {
      case lr @ LogicalRelation(r: TxLogRelation, _, None, _, _) =>
        r.catalogTableWithStats
          .map(ct => lr.copy(catalogTable = Some(ct)))
          .getOrElse(lr)
    }
}
