package dorisspark;

import org.apache.spark.sql.SparkSessionExtensions;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/** {@code spark.sql.extensions} entry point: injects {@link BoundedFinalSort} into AQE. */
public final class BoundedFinalSortExtension extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {
    @Override
    public BoxedUnit apply(SparkSessionExtensions extensions) {
        extensions.injectRuntimeOptimizerRule(session -> new BoundedFinalSort());
        return BoxedUnit.UNIT;
    }
}
