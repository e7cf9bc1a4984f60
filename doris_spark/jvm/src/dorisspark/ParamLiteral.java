package dorisspark;

import java.io.Serializable;

import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext;
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode;
import org.apache.spark.sql.catalyst.expressions.codegen.JavaCode;
import org.apache.spark.sql.types.*;
import scala.collection.immutable.IndexedSeq;
import scala.collection.immutable.Seq;

/**
 * A non-null literal whose generated code reads its value instead of
 * spelling it.
 *
 * <p>{@link Literal#doGenCode} writes numeric, boolean, date, timestamp and
 * interval values into the Java source, so two statements that differ only
 * in such a constant compile two classes. This expression puts the value in
 * the generated class's {@code references} and unboxes it once into a field,
 * so the source depends on the statement's shape alone and the code cache
 * serves every later statement of that shape. It evaluates, prints and
 * compares like its literal: {@code eval}, {@code toString} and {@code sql}
 * are the literal's, and equality is by value and type, so EXPLAIN text and
 * exchange reuse are unchanged.
 *
 * <p>It extends {@link Expression} directly: javac rejects a Java subclass
 * of {@code LeafExpression} over {@code LeafLike}'s generic bridge method.
 */
public final class ParamLiteral extends Expression implements Serializable {

    private final Literal literal;

    public ParamLiteral(Literal literal) {
        this.literal = literal;
    }

    /** Whether {@link Literal#doGenCode} would write {@code l}'s value into the source. */
    static boolean inlined(Literal l) {
        DataType t = l.dataType();
        return l.value() != null && (t instanceof BooleanType || t instanceof ByteType
                || t instanceof ShortType || t instanceof IntegerType || t instanceof LongType
                || t instanceof FloatType || t instanceof DoubleType || t instanceof DateType
                || t instanceof TimestampType || t instanceof TimestampNTZType
                || t instanceof YearMonthIntervalType || t instanceof DayTimeIntervalType);
    }

    /** {@code e} with every inlined literal replaced by a {@code ParamLiteral}. */
    static Expression rewrite(Expression e) {
        if (e instanceof Literal l) {
            return inlined(l) ? new ParamLiteral(l) : l;
        }
        return e.mapChildren(ParamLiteral::rewrite);
    }

    @Override
    public ExprCode doGenCode(CodegenContext ctx, ExprCode ev) {
        String javaType = CodeGenerator.javaType(dataType());
        String boxed = ctx.addReferenceObj("param", literal.value(), CodeGenerator.boxedType(dataType()));
        String field = ctx.addMutableState(javaType, "param",
                v -> v + " = " + boxed + "." + javaType + "Value();", false, true);
        return ExprCode.forNonNullValue(JavaCode.global(field, dataType()));
    }

    @Override
    public Object eval(InternalRow input) {
        return literal.value();
    }

    @Override
    public DataType dataType() {
        return literal.dataType();
    }

    @Override
    public boolean nullable() {
        return false;
    }

    @Override
    public boolean foldable() {
        return true;
    }

    @Override
    public String toString() {
        return literal.toString();
    }

    @Override
    public String sql() {
        return literal.sql();
    }

    @Override
    public boolean equals(Object o) {
        return o instanceof ParamLiteral p && p.literal.equals(literal);
    }

    @Override
    public int hashCode() {
        return 31 * literal.hashCode() + 7;
    }

    @Override
    public Seq<Expression> children() {
        return scala.collection.immutable.List$.MODULE$.empty();
    }

    @Override
    public Expression withNewChildrenInternal(IndexedSeq<Expression> newChildren) {
        return this;
    }

    @Override
    public int productArity() {
        return 1;
    }

    @Override
    public Object productElement(int n) {
        return literal;
    }

    @Override
    public boolean canEqual(Object that) {
        return that instanceof ParamLiteral;
    }
}
