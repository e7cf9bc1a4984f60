package dorisspark;

import java.util.*;

import org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion$;
import org.apache.spark.sql.catalyst.analysis.ResolveTimeZone$;
import org.apache.spark.sql.catalyst.analysis.SQLScalarFunction;
import org.apache.spark.sql.catalyst.analysis.TypeCoercion$;
import org.apache.spark.sql.catalyst.expressions.*;
import org.apache.spark.sql.catalyst.expressions.aggregate.*;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.CTERelationDef;
import org.apache.spark.sql.catalyst.plans.logical.CTERelationRef;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.internal.SQLConf;
import org.apache.spark.sql.types.*;
import scala.Option;
import scala.jdk.javaapi.CollectionConverters;
import scala.runtime.BoxedUnit;

/**
 * Analyzer resolution rule: Doris result types that depend on resolved
 * argument types.
 *
 * <ul>
 *   <li>{@code avg} over {@code DECIMAL(p, s < 4)} is {@code DECIMAL(38, 4)}
 *       truncated toward zero (Doris's {@code Avg} divides the int128 scaled
 *       sum by the count): {@code CAST((U - U % n) / n / 10000 AS
 *       DECIMAL(38,4))}, {@code U = CAST(CAST(sum(x) AS DECIMAL(38,s)) * 10000
 *       AS DECIMAL(38,0))}, {@code n = CAST(count(x) AS DECIMAL(20,0))}.
 *       DISTINCT and FILTER carry over; {@code avg ... OVER} keeps Spark's type.
 *   <li>{@code plans/sql_macros._date_arith} expands two-argument
 *       {@code date_add}/{@code date_sub} to {@code (CAST((x) AS TIMESTAMP) ±
 *       make_interval(0, 0, 0, CAST((n) AS INT)))}, Doris's DATETIME result.
 *       Over a DATE {@code x} Doris returns a DATE, so that resolved template,
 *       and no other spelling, becomes {@code date_add(x, n)}/{@code date_sub(x, n)}.
 * </ul>
 *
 * <p>Type coercion ran before this rule in the same pass, on the old type. So
 * an expression holding a rewrite loses its coercion casts (those without
 * {@link Cast#USER_SPECIFIED_CAST}), its interval arithmetic over a now-DATE
 * start is re-opened to {@code +}/{@code -}, and its node is resolved again
 * with the analyzer's arithmetic and coercion rules. Every node that reads an
 * output whose type changed (a CTE reference by position) is re-typed and
 * coerced in turn. The avg rewrite waits for the whole plan to resolve, since
 * HAVING and ORDER BY find their aggregate by matching {@code avg(x)}.
 */
public final class DorisTypes extends Rule<LogicalPlan> {

    private static final Literal TEN_THOUSAND =
            new Literal(Decimal.apply(10_000L), DecimalType.apply(5, 0));

    private final SparkSession session;

    public DorisTypes(org.apache.spark.sql.SparkSession session) {
        this.session = (SparkSession) session;
    }

    @Override
    public LogicalPlan apply(LogicalPlan plan) {
        Map<ExprId, DataType> retyped = new HashMap<>();
        LogicalPlan out = rewrite(plan, plan.resolved(), retyped);
        while (!retyped.isEmpty()) {
            out = retype(out, retyped);
            Map<ExprId, DataType> refs = new HashMap<>();
            cteRefs(out, cteDefs(out, new HashMap<>()), refs);
            retyped = refs;
        }
        return out;
    }

    private LogicalPlan rewrite(LogicalPlan plan, boolean avg, Map<ExprId, DataType> retyped) {
        if (plan.analyzed()) {
            return plan;
        }
        LogicalPlan p = (LogicalPlan) plan.mapChildren(c -> rewrite(c, avg, retyped));
        boolean aggregate = avg && p instanceof Aggregate;
        Set<Expression> made = Collections.newSetFromMap(new IdentityHashMap<>());
        LogicalPlan q = (LogicalPlan) p.mapExpressions(e -> {
            int before = made.size();
            Expression r = sites(e, aggregate, false, made);
            return made.size() == before ? e : reopen(r, made);
        });
        return made.isEmpty() ? p : settle(p, q, retyped);
    }

    /** Resolves {@code node}, the re-opened {@code old}, and records each output whose type changed. */
    private LogicalPlan settle(LogicalPlan old, LogicalPlan node, Map<ExprId, DataType> retyped) {
        List<Rule<LogicalPlan>> rules = new ArrayList<>();
        rules.add(session.sessionState().analyzer().ResolveBinaryArithmetic());
        rules.add(ResolveTimeZone$.MODULE$);
        rules.addAll(CollectionConverters.asJava(SQLConf.get().ansiEnabled()
                ? AnsiTypeCoercion$.MODULE$.typeCoercionRules()
                : TypeCoercion$.MODULE$.typeCoercionRules()));
        for (int i = 0; i < 8 && !node.resolved(); i++) {
            for (Rule<LogicalPlan> r : rules) {
                node = r.apply(node);
            }
        }
        if (node.resolved() && old.resolved()) {
            Map<ExprId, DataType> was = new HashMap<>();
            for (Attribute a : CollectionConverters.asJava(old.output())) {
                was.put(a.exprId(), a.dataType());
            }
            for (Attribute a : CollectionConverters.asJava(node.output())) {
                if (was.containsKey(a.exprId()) && !a.dataType().equals(was.get(a.exprId()))) {
                    retyped.put(a.exprId(), a.dataType());
                }
            }
        }
        return node;
    }

    /** Rewrites every site in {@code e}, bottom up, and adds each rewrite to {@code made}. */
    private static Expression sites(Expression e, boolean aggregate, boolean inWindow, Set<Expression> made) {
        boolean window = inWindow || e instanceof WindowExpression;
        Expression x = e.mapChildren(c -> sites(c, aggregate, window, made));
        Expression r = aggregate && !window ? decimalAvg(x) : null;
        if (r == null) {
            r = dateArith(x);
        }
        if (r == null) {
            return x;
        }
        made.add(r);
        return r;
    }

    private static Expression decimalAvg(Expression e) {
        if (!(e instanceof AggregateExpression ae) || !(ae.aggregateFunction() instanceof Average avg)) {
            return null;
        }
        Expression x = avg.child();
        if (!x.resolved() || !(x.dataType() instanceof DecimalType t) || t.scale() >= 4) {
            return null;
        }
        Expression sum = aggregate(ae, new Sum(x));
        Expression u = cast(new Multiply(cast(sum, DecimalType.apply(38, t.scale())), TEN_THOUSAND),
                DecimalType.apply(38, 0));
        Expression n = cast(aggregate(ae, new Count(CollectionConverters.asScala(List.of(x)).toSeq())),
                DecimalType.apply(20, 0));
        Expression q = new Divide(new Divide(new Subtract(u, new Remainder(u, n)), n), TEN_THOUSAND);
        return cast(q, DecimalType.apply(38, 4));
    }

    private static Expression aggregate(AggregateExpression like, AggregateFunction fn) {
        return new AggregateExpression(fn, like.mode(), like.isDistinct(), like.filter(),
                NamedExpression.newExprId());
    }

    private static Expression cast(Expression child, DataType to) {
        Cast c = new Cast(child, to, Option.empty());
        c.setTagValue(Cast.USER_SPECIFIED_CAST(), BoxedUnit.UNIT);
        return c;
    }

    private static boolean userCast(Expression e) {
        return e instanceof Cast && e.getTagValue(Cast.USER_SPECIFIED_CAST()).isDefined();
    }

    /** The resolved template over a DATE x: {@code CAST(CAST(x AS TIMESTAMP) ± make_interval(..) AS TIMESTAMP)}. */
    private static Expression dateArith(Expression e) {
        if (!(e instanceof Cast outer) || userCast(outer) || !(outer.dataType() instanceof TimestampType)) {
            return null;
        }
        boolean add = outer.child() instanceof TimestampAddInterval;
        Expression start = add ? ((TimestampAddInterval) outer.child()).start()
                : outer.child() instanceof DatetimeSub d ? d.start() : null;
        if (!userCast(start) || !(start.dataType() instanceof TimestampType)) {
            return null;
        }
        Expression x = ((Cast) start).child();
        Expression days = templateDays(add ? ((TimestampAddInterval) outer.child()).interval()
                : ((DatetimeSub) outer.child()).interval());
        if (days == null || !x.resolved() || !(x.dataType() instanceof DateType)) {
            return null;
        }
        return add ? new DateAdd(x, days) : new DateSub(x, days);
    }

    private static Expression templateDays(Expression e) {
        if (!(e instanceof MakeInterval m) || !(userCast(m.days()) && m.days().dataType() instanceof IntegerType)) {
            return null;
        }
        for (Expression z : new Expression[] {m.years(), m.months(), m.weeks(), m.hours(), m.mins(), m.secs()}) {
            Object v = z instanceof Literal l ? l.value() : null;
            if (!(v instanceof Integer i ? i == 0 : v instanceof Decimal d && d.isZero())) {
                return null;
            }
        }
        return m.days();
    }

    /** Drops coercion casts and re-opens interval arithmetic over a DATE, except in rewrites and SQL functions. */
    private static Expression reopen(Expression e, Set<Expression> made) {
        if (made.contains(e) || e instanceof SQLScalarFunction) {
            return e;
        }
        if (e instanceof Cast c && !userCast(c)) {
            return reopen(c.child(), made);
        }
        Expression x = e.mapChildren(c -> reopen(c, made));
        if (x instanceof TimestampAddInterval t && t.start().resolved()
                && t.start().dataType() instanceof DateType) {
            return new Add(t.start(), t.interval());
        }
        if (x instanceof DatetimeSub d && d.child() instanceof Add a) {
            return new Subtract(a.left(), ((DatetimeSub) e).interval());
        }
        return x;
    }

    /** Re-types every reference to a changed output, bottom up, re-opening and settling its node. */
    private LogicalPlan retype(LogicalPlan plan, Map<ExprId, DataType> retyped) {
        if (plan.analyzed()) {
            return plan;
        }
        LogicalPlan p = (LogicalPlan) plan.mapChildren(c -> retype(c, retyped));
        Set<Expression> none = Collections.emptySet();
        LogicalPlan q = (LogicalPlan) p.mapExpressions(e -> {
            Expression r = retype(e, retyped);
            return r == e ? e : reopen(r, none);
        });
        return q == p ? p : settle(p, q, retyped);
    }

    private static Expression retype(Expression e, Map<ExprId, DataType> retyped) {
        if (e instanceof AttributeReference a) {
            DataType t = retyped.get(a.exprId());
            return t == null || t.equals(a.dataType()) ? a : a.withDataType(t);
        }
        return e.mapChildren(c -> retype(c, retyped));
    }

    private static Map<Long, LogicalPlan> cteDefs(LogicalPlan plan, Map<Long, LogicalPlan> defs) {
        if (plan instanceof CTERelationDef d) {
            defs.put(d.id(), d);
        }
        CollectionConverters.asJava(plan.children()).forEach(c -> cteDefs(c, defs));
        return defs;
    }

    /** A CTE reference whose definition changed type re-types its own output. */
    private static void cteRefs(LogicalPlan plan, Map<Long, LogicalPlan> defs, Map<ExprId, DataType> retyped) {
        if (plan.analyzed()) {
            return;
        }
        if (plan instanceof CTERelationRef r && defs.containsKey(r.cteId())) {
            List<Attribute> ref = CollectionConverters.asJava(r.output());
            List<Attribute> def = CollectionConverters.asJava(defs.get(r.cteId()).output());
            for (int i = 0; i < Math.min(ref.size(), def.size()); i++) {
                if (def.get(i).resolved() && !ref.get(i).dataType().equals(def.get(i).dataType())) {
                    retyped.put(ref.get(i).exprId(), def.get(i).dataType());
                }
            }
        }
        CollectionConverters.asJava(plan.children()).forEach(c -> cteRefs(c, defs, retyped));
    }
}
