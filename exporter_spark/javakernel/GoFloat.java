import java.math.BigInteger;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Go's float renderer, strconv.FormatFloat(v, 'f', -1, 64) (reference
 * tostring/tostring.go:71-74): the shortest decimal that parses back
 * to v, the one closest to v when several are that short (ties to an
 * even last digit), in fixed notation: never an exponent, integral
 * values without ".0", negative zero as "-0", NaN/"+Inf"/"-Inf"
 * spelled Go-style. It is the engine's only Go-float kernel.
 *
 * The digits come from Schubfach (R. Giulietti, "The Schubfach way to
 * render doubles", 2020), the algorithm of JDK 19's Double.toString,
 * in 64-bit integer arithmetic. JDK 17's Double.toString is not
 * always shortest (JDK-4511638), so it is not used. For v = c 2^q,
 * k = floor(log10(2^q)) makes v's rounding interval Rv narrower than
 * 10^(k+1); the 126-bit g ~ 10^-k 2^-r scales c, 4c - 2 (or - 1 at a
 * binade boundary, where the interval is asymmetric) and 4c + 2 to
 * vb, vbl and vbr, four times v, the interval's lower and upper
 * bounds in units of 10^k, rounded to odd so that comparing them with
 * multiples of 4 is exact (the paper's section 9). Rv holds at most
 * one multiple of 10^(k+1); when it holds one, that is the shortest
 * decimal. Else the digits are s = floor(v 10^-k) or s + 1, whichever
 * lies in Rv, the closer to v if both do. The bounds are closed iff c
 * is even, as parsing rounds half to even.
 *
 * Where Go and Double.toString differ: Double.toString keeps two
 * digits when one would do (4.9E-324 for 5e-324), so it skips the
 * one-shorter candidate below 100; here it is tried at every length.
 * The two smallest subnormals, below the algorithm's precision
 * threshold (c < 3, the paper's C_TINY), are spelled out.
 *
 * Byte equality with numpy format_float_positional(unique=True,
 * trim='-') (itself hypothesis-pinned to the Decimal port of Go's
 * algorithm) is pinned in tests/test_javakernel.py over random bit
 * patterns, the digit-count boundaries around every power of ten, all
 * subnormal powers of two, integers near 2^53 and 2^63 and 17-digit
 * values.
 */
public class GoFloat implements UDF1<Double, String> {
    private static final int Q_MIN = -1074;
    private static final int K_MIN = -324;
    private static final int K_MAX = 292;
    private static final long C_MIN = 1L << 52;
    private static final long T_MASK = C_MIN - 1;
    private static final long MASK_63 = (1L << 63) - 1;

    /** g(k) = floor(10^-k 2^-r) + 1, 2^125 <= g < 2^126, as g1 2^63 + g0. */
    private static final long[] G = new long[2 * (K_MAX - K_MIN + 1)];

    static {
        for (int k = K_MIN; k <= K_MAX; k++) {
            int r = flog2pow10(-k) - 125;
            BigInteger num = k <= 0 ? BigInteger.TEN.pow(-k) : BigInteger.ONE;
            BigInteger den = k <= 0 ? BigInteger.ONE : BigInteger.TEN.pow(k);
            if (r < 0) {
                num = num.shiftLeft(-r);
            } else {
                den = den.shiftLeft(r);
            }
            BigInteger g = num.divide(den).add(BigInteger.ONE);
            if (g.bitLength() != 126) {
                throw new IllegalStateException("GoFloat: g(" + k + ") has " + g.bitLength() + " bits");
            }
            G[(k - K_MIN) << 1] = g.shiftRight(63).longValue();
            G[(k - K_MIN) << 1 | 1] = g.longValue() & MASK_63;
        }
    }

    @Override
    public String call(Double v) {
        if (v == null) return null;
        return format(v);
    }

    static String format(double v) {
        long bits = Double.doubleToRawLongBits(v);
        long t = bits & T_MASK;
        int bq = (int) (bits >>> 52) & 0x7ff;
        if (bq == 0x7ff) {
            return t != 0 ? "NaN" : bits > 0 ? "+Inf" : "-Inf";
        }
        boolean neg = bits < 0;
        if (bq != 0) {
            int mq = 1075 - bq; // v = c 2^-mq
            long c = C_MIN | t;
            if (0 < mq && mq < 53 && (c >> mq) << mq == c) {
                return fixed(neg, c >> mq, 0); // an integer below 2^53
            }
            return shortest(neg, -mq, c);
        }
        if (t == 0) return neg ? "-0" : "0";
        if (t == 1) return fixed(neg, 5, -324);
        if (t == 2) return fixed(neg, 1, -323);
        return shortest(neg, Q_MIN, t);
    }

    private static String shortest(boolean neg, int q, long c) {
        int out = (int) c & 1;
        long cb = c << 2;
        long cbr = cb + 2;
        long cbl;
        int k;
        if (c != C_MIN || q == Q_MIN) {
            cbl = cb - 2;
            k = flog10pow2(q);
        } else {
            cbl = cb - 1;
            k = flog10threeQuartersPow2(q);
        }
        int h = q + flog2pow10(-k) + 2;
        long g1 = G[(k - K_MIN) << 1];
        long g0 = G[(k - K_MIN) << 1 | 1];
        long vb = rop(g1, g0, cb << h);
        long vbl = rop(g1, g0, cbl << h);
        long vbr = rop(g1, g0, cbr << h);

        long s = vb >> 2;
        // the multiples of 10^(k+1) on either side of v
        long sp10 = 10 * Math.multiplyHigh(s, 115_292_150_460_684_698L << 4);
        long tp10 = sp10 + 10;
        boolean upin = vbl + out <= sp10 << 2;
        boolean wpin = (tp10 << 2) + out <= vbr;
        if (upin != wpin) {
            return fixed(neg, upin ? sp10 : tp10, k);
        }
        long s1 = s + 1;
        boolean uin = vbl + out <= s << 2;
        boolean win = (s1 << 2) + out <= vbr;
        if (uin != win) {
            return fixed(neg, uin ? s : s1, k);
        }
        long cmp = vb - (s + s1 << 1);
        return fixed(neg, cmp < 0 || cmp == 0 && (s & 1) == 0 ? s : s1, k);
    }

    /** cp g 2^-127 rounded to odd, g = g1 2^63 + g0 (the paper's rop). */
    private static long rop(long g1, long g0, long cp) {
        long x1 = Math.multiplyHigh(g0, cp);
        long y0 = g1 * cp;
        long y1 = Math.multiplyHigh(g1, cp);
        long z = (y0 >>> 1) + x1;
        long vbp = y1 + (z >>> 63);
        return vbp | (z & MASK_63) + MASK_63 >>> 63;
    }

    // The paper's fixed-point logarithms, exact over the exponents of
    // doubles.

    /** floor(log10(2^e)). */
    private static int flog10pow2(int e) {
        return (int) (e * 661_971_961_083L >> 41);
    }

    /** floor(log10(3/4 2^e)). */
    private static int flog10threeQuartersPow2(int e) {
        return (int) (e * 661_971_961_083L + -274_743_187_321L >> 41);
    }

    /** floor(log2(10^e)). */
    private static int flog2pow10(int e) {
        return (int) (e * 913_124_641_741L >> 38);
    }

    /** f 10^e in fixed notation, f > 0. */
    private static String fixed(boolean neg, long f, int e) {
        while (f % 10 == 0) {
            f /= 10;
            e++;
        }
        String ds = Long.toString(f);
        int n = ds.length();
        int point = n + e; // digits before the decimal point
        StringBuilder sb = new StringBuilder(Math.max(n, point) + Math.max(0, -point) + 3);
        if (neg) sb.append('-');
        if (e >= 0) {
            sb.append(ds);
            for (int i = 0; i < e; i++) sb.append('0');
        } else if (point > 0) {
            sb.append(ds, 0, point).append('.').append(ds, point, n);
        } else {
            sb.append("0.");
            for (int i = 0; i < -point; i++) sb.append('0');
            sb.append(ds);
        }
        return sb.toString();
    }
}
