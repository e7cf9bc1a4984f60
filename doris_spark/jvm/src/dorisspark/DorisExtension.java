package dorisspark;

import org.apache.spark.sql.SparkSessionExtensions;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/** The engine's session extension: injects {@link DorisTypes} into the analyzer and {@link BoundedFinalSort} into AQE. */
public final class DorisExtension extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {
    @Override
    public BoxedUnit apply(SparkSessionExtensions extensions) {
        extensions.injectResolutionRule(DorisTypes::new);
        extensions.injectRuntimeOptimizerRule(session -> new BoundedFinalSort());
        return BoxedUnit.UNIT;
    }
}
