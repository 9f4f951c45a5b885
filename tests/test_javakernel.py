"""JVM Gopher counts kernel: bit-identical to the Arrow/pandas kernel.

The Java kernel (exporter_spark/javakernel/GopherCounts.java) is the
cluster-scale path — round-5 attribution measured the Python loop at
75% of operator CPU at 30× corpus scale, and the compiled kernel runs
2.4-3.4× faster end-to-end. Both kernels emit only exact integer
counts into the SAME Catalyst division/round projection, so any
semantic drift shows up as an integer mismatch here, loudly.
"""

from __future__ import annotations

import pytest

from exporter_spark.javakernel import javac_available
from exporter_spark.operators import text
from exporter_spark.sources.files import load_table

needs_jdk = pytest.mark.skipif(
    not javac_available(), reason="no JDK (javac/jar) in PATH"
)


@needs_jdk
def test_java_kernel_matches_pandas_on_corpus(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pj = text.gopher_signals(d, kernel="java").orderBy("doc_id").collect()
    pp = text.gopher_signals(d, kernel="pandas").orderBy("doc_id").collect()
    assert len(pj) == len(pp) > 0
    diff = [(a, b) for a, b in zip(pj, pp) if a != b]
    assert not diff, diff[:2]


@needs_jdk
def test_java_kernel_matches_pandas_on_degenerate_strings(spark):
    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "a\tb\x0bc\fd\re\nf"),  # every ASCII separator class member
        (4, "\U0001d49c\U0001d49c ab \U0001d49cb"),  # astral: code points
        (5, "- one\n* two\n• three\nfour ...\nfive…\n\n\n"),
        (6, "### ## # ...... ... .."),  # non-overlapping symbol counts
        (7, "tok " * 50),  # max-multiplicity n-grams
        (8, "a\xa0b c"),  # NBSP must NOT split (ASCII \s class only)
        (9, "x" * 5000),  # one giant token
        (10, " lead and trail "),
        (11, "\n".join(["same line"] * 7)),  # duplicate lines
        (12, "short"),  # fewer tokens than every dup-ngram n
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pj = text.gopher_signals(d, kernel="java").orderBy("doc_id").collect()
    pp = text.gopher_signals(d, kernel="pandas").orderBy("doc_id").collect()
    diff = [(a, b) for a, b in zip(pj, pp) if a != b]
    assert not diff, diff[:2]


@needs_jdk
def test_auto_kernel_resolves_to_java_here(spark, sf_dir):
    """kernel='auto' must use the JVM kernel when a JDK is present:
    the plan then contains the registered SQL UDF, not a Python
    ArrowEvalPython node."""
    d = load_table(spark, sf_dir, "documents")
    plan = (
        text.gopher_signals(d, kernel="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan, plan[:500]


def test_auto_kernel_never_raises(spark, sf_dir, monkeypatch):
    """With the JDK 'missing', auto falls back to the pandas kernel
    silently — same answer, slower path."""
    import exporter_spark.javakernel as jk

    monkeypatch.setattr(jk, "build_jar", lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("no jdk")
    ))
    # force re-registration attempt on a fresh session attr
    if hasattr(spark, "_exporter_spark_java_kernels"):
        del spark._exporter_spark_java_kernels
    d = load_table(spark, sf_dir, "documents")
    out = text.gopher_signals(d, kernel="auto")
    assert out.count() > 0


def _go_float_cases() -> list[float]:
    """Seeded multi-regime doubles: random bit patterns, money
    decimals, ±1 ulp around every power of ten (where the digit count
    changes) and of two (binade boundaries, where the parse interval
    is asymmetric), every subnormal power of two, integers near 2^53
    and 2^63, 17-digit values, the 1e15-1e17 band and the extremes."""
    import random
    import struct

    import numpy as np

    def bits(d):
        return struct.unpack("<q", struct.pack("<d", d))[0]

    def from_bits(b):
        return struct.unpack("<d", struct.pack("<q", b))[0]

    rng = random.Random(20260814)
    vals = []
    while len(vals) < 8000:
        d = from_bits(rng.getrandbits(64) - (1 << 63))
        if d == d and abs(d) != float("inf"):
            vals.append(d)
    for _ in range(3000):
        vals.append(round(rng.uniform(-1e6, 1e6), rng.randint(0, 6)))
    for e in range(-323, 309):
        p = float(f"1e{e}")
        vals += [from_bits(bits(p) + u) for u in (-1, 0, 1)]
        vals.append(rng.uniform(1, 9) * p)
    for e in range(-1074, 1024):
        p = 2.0 ** e
        vals += [from_bits(bits(p) + u) for u in (-1, 0, 1)]
    for n in (2 ** 53, 2 ** 63):
        vals += [float(n + u) for u in range(-40, 41)]
        vals += [from_bits(bits(float(n)) + u) for u in range(-20, 21)]
    seventeen = 0
    while seventeen < 1000:
        d = rng.uniform(1.0, 10.0) * 10.0 ** rng.randint(-300, 300)
        if len(np.format_float_scientific(d, unique=True, trim="-").split("e")[0]) == 18:
            vals.append(d)  # 17 digits and the point
            seventeen += 1
    for _ in range(2000):
        vals.append(rng.uniform(1e15, 1e17))
    vals += [0.0, -0.0, 1.0, -1.0, 0.1, 0.2, 0.3, 2.0 ** 60, 1e16, 1e16 + 2,
             5e-324, -5e-324, 1e-323, 1.7976931348623157e308, -1.7976931348623157e308,
             2.2250738585072014e-308, 2.225073858507201e-308, 2.0e-3,
             1.0 / 3.0, 6.483618076376552e+178]
    return [v for v in vals if v == v and abs(v) != float("inf")]


@needs_jdk
def test_go_float_java_matches_python_renderer(spark):
    """GoFloat.java against numpy's shortest fixed-notation renderer
    (``format_float_positional(unique=True, trim="-")``, hypothesis-
    pinned to the Decimal port of Go's algorithm in
    test_extension_points), computed on the driver over the same
    doubles: byte-identical on every one, and the Go spellings of the
    non-finite values."""
    import numpy as np
    from pyspark.sql import functions as F

    from exporter_spark.javakernel import ensure_go_float_java

    fn = ensure_go_float_java(spark)
    vals = _go_float_cases()
    rows = [(i, v) for i, v in enumerate(vals)]
    rows += [(len(rows), float("nan")), (len(rows) + 1, float("inf")), (len(rows) + 2, float("-inf"))]
    df = spark.createDataFrame(rows, "i long, x double")
    got = dict(df.select("i", F.call_udf(fn, F.col("x")).alias("s")).collect())
    want = [np.format_float_positional(v, unique=True, trim="-") for v in vals]
    want += ["NaN", "+Inf", "-Inf"]
    bad = [(rows[i][1], got[i], w) for i, w in enumerate(want) if got[i] != w]
    assert len(got) == len(want) and not bad, bad[:5]


def test_float_go_without_jdk_is_refused(spark, monkeypatch, tmp_path):
    """No JDK and no shipped kernel jar: float_go exports raise
    ``build_jar``'s refusal, which names what is missing and the
    ``--jars`` alternative, instead of falling back to a slower
    renderer. A frame without a float column needs no kernel, and a
    session whose ``spark.jars`` lists the kernel jar needs no JDK."""
    import exporter_spark.javakernel as jk
    from exporter_spark import Exporter, ExportSpec

    jk.ensure_go_float_java(spark)  # the classes are on the session's classpath
    real_build_jar = jk.build_jar

    def build_jar_without_jdk():
        # neither javac nor a jar built before (the temp dir is empty)
        with monkeypatch.context() as m:
            m.setattr(jk.shutil, "which", lambda _: None)
            m.setattr(jk.tempfile, "gettempdir", lambda: str(tmp_path))
            return real_build_jar()

    monkeypatch.setattr(jk, "build_jar", build_jar_without_jdk)
    monkeypatch.setattr(spark, "_exporter_spark_java_kernels", set(), raising=False)
    df = spark.sql("SELECT id, id / 8 AS f64 FROM range(4)")
    refusal = r"javac/jar not found.*--jars"
    with pytest.raises(RuntimeError, match=refusal):
        Exporter(df, "csv", ExportSpec().with_float_go()).write_string()
    with pytest.raises(RuntimeError, match=refusal):
        Exporter(df, "json", ExportSpec()).formatter.write_array_file(df, str(tmp_path / "a.json"))
    ints = df.select("id")
    Exporter(ints, "json", ExportSpec()).formatter.write_array_file(ints, str(tmp_path / "b.json"))
    assert (tmp_path / "b.json").read_text().startswith('[\n{"id":0}')

    conf = spark.conf

    class ShippedJar:
        def get(self, key, *default):
            if key == "spark.jars":
                return f"file:/jars/{jk.jar_name()}"
            return conf.get(key, *default)

        def __getattr__(self, name):
            return getattr(conf, name)

    monkeypatch.setattr(spark, "conf", ShippedJar())
    assert "\n1,0.125\n" in Exporter(df, "csv", ExportSpec().with_float_go()).write_string()


@needs_jdk
def test_java_kernel_matches_pandas_random_unicode_fuzz(spark):
    """Seeded random-text fuzz: mixed scripts, astral plane, every
    ASCII separator, marker chars (#/.../…/bullets), NBSP and other
    unicode spaces (which must NOT split — the class is ASCII \\s),
    and pathological repetition. One DataFrame, exact row equality."""
    import random

    rng = random.Random(424242)
    alphabets = [
        "abcdefgh XYZ",                       # latin + case
        "абвгд ёжз",                          # cyrillic
        "你好世界 中文",                        # CJK
        "\U0001f600\U0001d49c\U00010400",     # astral plane
        " \t\n\x0b\f\r",                      # every separator
        "#.…-*• ",                            # marker chars
        "\xa0   ",             # unicode spaces: no split
    ]

    def rand_text():
        n = rng.randint(0, 400)
        parts = []
        for _ in range(n):
            a = rng.choice(alphabets)
            parts.append(a[rng.randrange(len(a))])
        s = "".join(parts)
        if rng.random() < 0.2:  # inject heavy repetition
            tok = s[: rng.randint(1, 8)] or "x"
            s = ((tok + " ") * rng.randint(2, 30)) + s
        return s

    rows = [(i, rand_text()) for i in range(400)]
    rows += [(9001, None), (9002, "")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pj = text.gopher_signals(d, kernel="java").orderBy("doc_id").collect()
    pp = text.gopher_signals(d, kernel="pandas").orderBy("doc_id").collect()
    diff = [(a, b) for a, b in zip(pj, pp) if a != b]
    assert not diff, diff[:2]


# ---------------------------------------------------------- SimHash32
# round 6: the simhash fingerprint got the same treatment after its
# attribution (Python share 63% at 30x and rising — SCALE.md). All
# three kernels must agree BIT-EXACTLY: the fingerprint feeds the
# pigeonhole chunk join, so a single differing bit changes pair
# candidates.

def _simhash_cols(spark, df, kernel):
    from pyspark.sql import functions as F

    from exporter_spark.operators import dedup

    if kernel == "java":
        from exporter_spark.javakernel import ensure_simhash_java

        col = F.call_udf(ensure_simhash_java(spark), F.col("text"))
    elif kernel == "pandas":
        col = dedup._simhash32_fast()(F.col("text"))
    else:
        col = dedup.simhash32("text")
    return {r["doc_id"]: r["fp"] for r in df.select("doc_id", col.alias("fp")).collect()}


@needs_jdk
def test_simhash_java_matches_pandas_and_sql_on_corpus(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    by = {k: _simhash_cols(spark, d, k) for k in ("java", "pandas", "sql")}
    assert by["java"] == by["pandas"] == by["sql"]
    assert len(by["java"]) > 0


@needs_jdk
def test_simhash_java_degenerate_whitespace_matrix(spark):
    """The token boundary is CPython's str \\s (Unicode White_Space +
    0x1C-0x1F), which Java's isWhitespace only approximates — NEL,
    NBSP, FIGURE SPACE and NNBSP are the chars that diverge between
    the platforms' defaults, so each gets a row where splitting (or
    not) flips the fingerprint."""
    rows = [
        (0, None),
        (1, ""),
        (2, " \t\n\x0b\f\r"),              # all-space -> 0
        (3, "a\x1cb\x1db\x1eb\x1fb"),      # file separators DO split in python \s
        (4, "a\x85b"),                      # NEL splits (python), not java default
        (5, "a\xa0b"),                      # NBSP splits in python \s (Zs)
        (6, "a b"),                    # FIGURE SPACE (Zs, non-breaking)
        (7, "a b"),                    # NNBSP
        (8, "a b c"),            # line/para separators
        (9, "a　b"),                    # ideographic space
        (10, "a b"),                   # ogham space mark
        (11, "\U0001f600 \U0001d49c\U00010400"),  # astral tokens
        (12, "x" * 5000),                   # one huge token
        (13, "tok " * 1000),                # heavy repetition
        (14, "​zero width​"),     # ZWSP is NOT whitespace
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # round 7: "sql" joined the matrix — its split regex now carries
    # CPython's full \s set (_PY_WS_RE) instead of Java's ASCII \s
    by = {k: _simhash_cols(spark, d, k) for k in ("java", "pandas", "sql")}
    assert by["java"] == by["pandas"] == by["sql"]
    # and the documented NULL/empty contract
    assert by["java"][0] is None and by["java"][1] == 0


@needs_jdk
def test_simhash_java_random_unicode_fuzz(spark):
    import random

    rng = random.Random(626262)
    pool = (
        "abcdefgh XYZ абвгд ёжз 你好世界 \U0001f600\U0001d49c"
        " \t\n\x0b\f\r\x1c\x85\xa0   　​#…•"
    )

    def rand_text():
        return "".join(
            pool[rng.randrange(len(pool))] for _ in range(rng.randint(0, 300))
        )

    rows = [(i, rand_text()) for i in range(500)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    by = {k: _simhash_cols(spark, d, k) for k in ("java", "pandas", "sql")}
    assert by["java"] == by["pandas"] == by["sql"]


def test_simhash_pandas_kernel_surrogate_substitution():
    """Malformed text (unpaired surrogates — no UTF-8 encoding): the
    pandas kernel must hash each surrogate as '?', matching Java
    String.getBytes(UTF_8) substitution in the JVM kernel, so kernel
    choice cannot change behavior (ADVICE r06; a strict encode()
    previously raised and killed the task). Exercised via the UDF's
    raw python function — a lone surrogate cannot ride Arrow."""
    import pandas as pd

    from exporter_spark.operators import dedup

    fn = dedup._simhash32_fast().func

    def fps(texts):
        # None maps to NaN in the float result series; normalize so
        # the comparison is exact
        return [None if pd.isna(v) else int(v) for v in fn(pd.Series(texts))]

    got = fps(["\ud800 foo", "a\udcffb", None, "\ud800"])
    want = fps(["? foo", "a?b", None, "?"])
    assert got == want
    assert want[2] is None


@needs_jdk
def test_simhash_pairs_kernel_parity_and_auto(spark, sf_dir):
    """The full pair pipeline must emit the same pairs under every
    kernel, and kernel="auto" must resolve to java here (JDK present)
    without changing the answer."""
    from exporter_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    outs = {}
    for k in ("java", "pandas", "auto"):
        outs[k] = {
            tuple(r)
            for r in dedup.simhash_near_dup_pairs(
                d, "doc_id", "text", kernel=k
            ).collect()
        }
    assert outs["java"] == outs["pandas"] == outs["auto"]


@needs_jdk
def test_simhash_java_hypothesis_property(spark):
    """Property check beyond the seeded fuzz: on arbitrary generated
    text (whitespace-dense alphabet incl. every char where Python and
    Java whitespace semantics diverge, plus astral plane), the Java
    kernel must equal a pure-python reference of the pandas kernel's
    definition. One Spark job per batch of examples."""
    import hashlib
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from exporter_spark.javakernel import ensure_simhash_java

    fn = ensure_simhash_java(spark)

    def reference(text):
        if text is None:
            return None
        toks = [t for t in re.split(r"\s+", text) if t]
        if not toks:
            return 0
        lanes = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for j in range(32):
                lanes[j] += 2 * ((h >> j) & 1) - 1
        return sum((1 << j) for j in range(32) if lanes[j] > 0)

    alphabet = (
        "ab я世\U0001f600 \t\n\x0b\f\r\x1c\x1d\x1e\x1f\x85\xa0"
        "       　​#"
    )
    texts = st.lists(
        st.text(alphabet=alphabet, max_size=40), min_size=1, max_size=20
    )

    @given(texts)
    @settings(max_examples=15, deadline=None)
    def check(batch):
        rows = [(i, t) for i, t in enumerate(batch)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["fp"]
            for r in d.select(
                "doc_id", F.call_udf(fn, F.col("text")).alias("fp")
            ).collect()
        }
        want = {i: reference(t) for i, t in rows}
        assert got == want

    check()


def test_py_ws_re_is_exactly_cpython_whitespace():
    """_PY_WS_RE (the sql kernel's token boundary) must equal
    CPython's \\s over ALL of Unicode — the class is a hardcoded
    snapshot of a table CPython has changed before (U+180E left the
    whitespace set in Unicode 6.3), so this is the drift alarm the
    class comment promises. The escapes used (\\t, \\xhh, \\uhhhh,
    ranges) parse identically as Python and Java regex, so pinning
    the Python interpretation pins the Spark-side one; the kernel
    matrix/fuzz tests above cover the Java engine on the divergent
    code points themselves."""
    import re

    from exporter_spark.operators.dedup import _PY_WS_RE

    cls = re.compile(_PY_WS_RE)
    ws = re.compile(r"\s")
    diff = [
        hex(cp)
        for cp in range(0x110000)
        if bool(cls.match(chr(cp))) != bool(ws.match(chr(cp)))
    ]
    assert not diff, f"_PY_WS_RE diverges from CPython \\s at: {diff[:20]}"
