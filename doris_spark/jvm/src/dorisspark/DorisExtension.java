package dorisspark;

import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.ColumnarRule;
import org.apache.spark.sql.execution.SparkPlan;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/**
 * The engine's session extension: injects {@link DorisTypes} into the
 * analyzer, {@link BoundedFinalSort} into AQE and {@link ParamLiterals}
 * before whole-stage codegen.
 */
public final class DorisExtension extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {
    @Override
    public BoxedUnit apply(SparkSessionExtensions extensions) {
        extensions.injectResolutionRule(DorisTypes::new);
        extensions.injectRuntimeOptimizerRule(session -> new BoundedFinalSort());
        extensions.injectColumnar(session -> new ColumnarRule() {
            @Override
            public Rule<SparkPlan> preColumnarTransitions() {
                return new ParamLiterals();
            }
        });
        return BoxedUnit.UNIT;
    }
}
