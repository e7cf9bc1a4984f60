package dorisspark;

import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.FilterExec;
import org.apache.spark.sql.execution.ProjectExec;
import org.apache.spark.sql.execution.SparkPlan;

/**
 * Physical-plan rule: every {@code FilterExec} condition and
 * {@code ProjectExec} list reads its inlined literals as
 * {@link ParamLiteral}s, so a statement that differs from an earlier one
 * only in those constants reuses its generated classes.
 *
 * <p>It runs as a columnar rule's pre-transition step, which both
 * {@code QueryExecution}'s preparations and AQE's stage-creation rules
 * apply just before {@code CollapseCodegenStages}. Scans and every other
 * node keep their literals, so pushed filters, window frames and
 * partitioning read as before.
 */
public final class ParamLiterals extends Rule<SparkPlan> {

    @Override
    public SparkPlan apply(SparkPlan plan) {
        SparkPlan p = (SparkPlan) plan.mapChildren(this::apply);
        if (p instanceof FilterExec || p instanceof ProjectExec) {
            return (SparkPlan) p.mapExpressions(ParamLiteral::rewrite);
        }
        return p;
    }
}
