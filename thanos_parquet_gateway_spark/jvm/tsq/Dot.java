package tsq;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * tsq_dot(a, b): the sum of (double) a[i] * (double) b[i] from 0.0, left to
 * right, as the aggregate(zip_with(...)) fold sums it, so results are
 * bit-identical.  Like the fold, a null array or element or unequal lengths
 * give null, and two empty arrays give 0.0.
 */
public final class Dot implements UDF2<Seq<Number>, Seq<Number>, Double> {
    @Override
    public Double call(Seq<Number> a, Seq<Number> b) {
        if (a == null || b == null || a.length() != b.length()) {
            return null;
        }
        double acc = 0.0;
        for (int i = 0, n = a.length(); i < n; i++) {
            Number x = a.apply(i), y = b.apply(i);
            if (x == null || y == null) {
                return null;
            }
            acc = acc + x.doubleValue() * y.doubleValue();
        }
        return acc;
    }
}
