package dorisspark;

import java.util.List;

import org.apache.spark.sql.catalyst.plans.ExistenceJoin;
import org.apache.spark.sql.catalyst.plans.FullOuter$;
import org.apache.spark.sql.catalyst.plans.InnerLike;
import org.apache.spark.sql.catalyst.plans.JoinType;
import org.apache.spark.sql.catalyst.plans.LeftAnti$;
import org.apache.spark.sql.catalyst.plans.LeftOuter$;
import org.apache.spark.sql.catalyst.plans.LeftSemi$;
import org.apache.spark.sql.catalyst.plans.RightOuter$;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.BaseEvalPython;
import org.apache.spark.sql.catalyst.plans.logical.Expand;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit;
import org.apache.spark.sql.catalyst.plans.logical.Join;
import org.apache.spark.sql.catalyst.plans.logical.LocalLimit;
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.plans.logical.Repartition;
import org.apache.spark.sql.catalyst.plans.logical.Sample;
import org.apache.spark.sql.catalyst.plans.logical.Sort;
import org.apache.spark.sql.catalyst.plans.logical.Statistics;
import org.apache.spark.sql.catalyst.plans.logical.Union;
import org.apache.spark.sql.catalyst.plans.logical.Window;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import scala.Option;
import scala.jdk.javaapi.CollectionConverters;

/**
 * AQE runtime-optimizer rule: a bounded final ORDER BY is merged in one
 * partition instead of range-partitioned.
 *
 * <p>A global {@code Sort} at the root of the plan plans a range exchange,
 * and the exchange samples its input in an extra job to find the range
 * bounds. When an upper bound on the Sort's input
 * rows, taken from the runtime row counts of materialized query stages, is
 * at most {@link #MAX_ROWS}, the Sort is rewritten into a partition-local
 * Sort over {@code Repartition(1, shuffle = false)}: one partition, sorted,
 * no sampling job. This is the merge at the coordinator that Doris plans for
 * a bounded ORDER BY. Any node whose output the bound cannot cap keeps the
 * range sort.
 */
public final class BoundedFinalSort extends Rule<LogicalPlan> {

    /** Largest input, in rows, that one partition sorts instead of a range exchange. */
    static final long MAX_ROWS = 100_000L;

    /** The bound of a plan whose row count cannot be capped. */
    private static final long UNKNOWN = Long.MAX_VALUE;

    @Override
    public LogicalPlan apply(LogicalPlan plan) {
        if (plan instanceof Sort) {
            Sort s = (Sort) plan;
            if (s.global() && bound(s.child()) <= MAX_ROWS) {
                return new Sort(s.order(), false, new Repartition(1, false, s.child()), s.hint());
            }
        }
        return plan;
    }

    /** An upper bound on the rows {@code plan} returns, or {@link #UNKNOWN}. */
    static long bound(LogicalPlan plan) {
        if (plan instanceof LogicalQueryStage) {
            LogicalQueryStage q = (LogicalQueryStage) plan;
            if (q.logicalPlan() instanceof Aggregate
                    && ((Aggregate) q.logicalPlan()).groupingExpressions().isEmpty()) {
                return 1;
            }
            return stageRows(q.physicalPlan());
        }
        if (plan instanceof LocalRelation) {
            return ((LocalRelation) plan).data().size();
        }
        if (plan instanceof Aggregate) {
            Aggregate a = (Aggregate) plan;
            return a.groupingExpressions().isEmpty() ? 1 : bound(a.child());
        }
        if (plan instanceof GlobalLimit || plan instanceof LocalLimit) {
            Option<Object> n = plan.maxRows();
            long child = bound(plan.children().head());
            return n.isDefined() ? Math.min((Long) n.get(), child) : child;
        }
        if (plan instanceof Sample) {
            Sample s = (Sample) plan;
            return s.withReplacement() ? UNKNOWN : bound(s.child());
        }
        // BaseEvalPython evaluates scalar Python UDFs: one row out per row in.
        if (plan instanceof Project || plan instanceof Filter || plan instanceof Sort
                || plan instanceof Window || plan instanceof BaseEvalPython) {
            return bound(plan.children().head());
        }
        if (plan instanceof Union) {
            long sum = 0;
            for (LogicalPlan c : CollectionConverters.asJava(plan.children())) {
                sum = add(sum, bound(c));
            }
            return sum;
        }
        if (plan instanceof Expand) {
            Expand e = (Expand) plan;
            return multiply(e.projections().size(), bound(e.child()));
        }
        if (plan instanceof Join) {
            Join j = (Join) plan;
            long left = bound(j.left());
            JoinType t = j.joinType();
            if (t == LeftSemi$.MODULE$ || t == LeftAnti$.MODULE$ || t instanceof ExistenceJoin) {
                return left;
            }
            long right = bound(j.right());
            long product = multiply(left, right);
            if (t instanceof InnerLike) {
                return product;
            }
            if (t == LeftOuter$.MODULE$ || t == RightOuter$.MODULE$ || t == FullOuter$.MODULE$) {
                return add(product, add(left, right));
            }
        }
        return UNKNOWN;
    }

    /**
     * Runtime row count of the query stage at the bottom of a logical
     * stage's physical plan. The unary nodes above that stage share its
     * logical node (a final aggregate over its partial aggregate's
     * exchange, say), so they return no more rows than the stage wrote. A
     * node with two or more children, an unmaterialized stage, or one
     * without a row count, is unknown.
     */
    private static long stageRows(SparkPlan plan) {
        if (plan instanceof QueryStageExec) {
            QueryStageExec stage = (QueryStageExec) plan;
            if (!stage.isMaterialized()) {
                return UNKNOWN;
            }
            Option<Statistics> stats = stage.computeStats();
            if (stats.isEmpty() || stats.get().rowCount().isEmpty()) {
                return UNKNOWN;
            }
            return stats.get().rowCount().get().longValue();
        }
        List<SparkPlan> children = CollectionConverters.asJava(plan.children());
        return children.size() == 1 ? stageRows(children.get(0)) : UNKNOWN;
    }

    // Both saturate at UNKNOWN; a side with no rows makes a product 0.
    private static long add(long a, long b) {
        return a > UNKNOWN - b ? UNKNOWN : a + b;
    }

    private static long multiply(long a, long b) {
        return a != 0 && b > UNKNOWN / a ? UNKNOWN : a * b;
    }
}
