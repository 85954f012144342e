"""Property-based tests (hypothesis): Spark expression helpers agree
with plain-Python models on arbitrary input. One Spark job per example
batch keeps runtime sane."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

_TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po"), max_codepoint=0x2FF
    ),
    max_size=80,
)


def _py_normalized(s: str) -> str:
    s = re.sub(r"[^a-z0-9 ]", "", s.lower())
    return re.sub(r" +", " ", s).strip()


def _py_shingles(s: str, n: int = 3) -> list[str]:
    t = s.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def _py_rolling(s: str, base: int = 131, mod: int = 1_000_000_007) -> int:
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


@settings(max_examples=12, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12))
def test_normalized_matches_python_model(spark, texts):
    from ciws_server_spark.functions.text import normalized

    df = spark.createDataFrame([(t,) for t in texts], ["text"]).select(
        normalized("text").alias("n")
    )
    got = [r["n"] for r in df.collect()]
    # Spark lower() is locale-insensitive UTF8 lower; restrict the
    # assertion to the ASCII-lowerable examples the model covers
    assert got == [_py_normalized(t) for t in texts]


@settings(max_examples=12, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=12))
def test_shingles_match_python_model(spark, texts):
    from ciws_server_spark.functions.text import word_shingles

    df = spark.createDataFrame([(t,) for t in texts], ["text"]).select(
        word_shingles("text", 3).alias("sh")
    )
    got = [list(r["sh"]) for r in df.collect()]
    assert got == [_py_shingles(t) for t in texts]


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=127), max_size=60), min_size=1, max_size=12))
def test_rolling_hash_matches_python_model(spark, texts):
    from ciws_server_spark.operators.text_analysis import _RH_BASE, _RH_MOD

    codes = F.transform(F.split(F.col("text"), ""), lambda ch: F.ascii(ch))
    rh = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _RH_BASE + c.cast("long")) % _RH_MOD,
    )
    df = spark.createDataFrame([(t,) for t in texts], ["text"]).select(
        rh.alias("h")
    )
    got = [r["h"] for r in df.collect()]
    assert got == [_py_rolling(t) for t in texts]


# ---- InfluxQL WHERE parser vs a Python evaluator -------------------

_TAGS = ("A", "B", "C")


@st.composite
def _bool_exprs(draw, depth=0):
    """Random predicate tree over (buildingID, time) with parens."""
    if depth >= 2 or draw(st.booleans()):
        lhs_time = draw(st.booleans())
        if lhs_time:
            op = draw(st.sampled_from([">=", "<=", ">", "<"]))
            minute = draw(st.integers(0, 59))
            return f"time {op} '2021-03-01 00:{minute:02d}:00'"
        op = draw(st.sampled_from(["=", "!=", "<>"]))
        tag = draw(st.sampled_from(_TAGS))
        return f"\"buildingID\" {op} '{tag}'"
    left = draw(_bool_exprs(depth=depth + 1))
    right = draw(_bool_exprs(depth=depth + 1))
    conj = draw(st.sampled_from(["AND", "OR"]))
    if draw(st.booleans()):
        return f"({left}) {conj} ({right})"
    return f"{left} {conj} {right}"


def _py_eval(expr: str, row) -> bool:
    """Reference evaluator: rewrite the InfluxQL condition into a
    Python expression over the row dict (AND binds tighter than OR —
    same precedence the parser implements)."""
    import re as _re

    def atom(m):
        lhs, op, rhs = m.group(1), m.group(2), m.group(3)
        lhs_v = repr(str(row["time"])) if lhs.strip('"').lower() == "time" else repr(row["buildingID"])
        op = {"=": "==", "<>": "!="}.get(op, op)
        return f"({lhs_v} {op} {rhs})"

    py = _re.sub(
        r"(\"[^\"]+\"|\w+)\s*(>=|<=|!=|<>|>|<|=)\s*('[^']*')", atom, expr
    )
    py = _re.sub(r"\bAND\b", "and", py)
    py = _re.sub(r"\bOR\b", "or", py)
    return bool(eval(py))  # noqa: S307 — test-only, generated input


@settings(max_examples=20, deadline=None)
@given(_bool_exprs())
def test_influxql_where_matches_python_model(spark, expr):
    import datetime as dt

    from ciws_server_spark.plans.influxql import translate

    base = dt.datetime(2021, 3, 1)
    rows = [
        (base + dt.timedelta(minutes=m), t)
        for m in range(0, 60, 7)
        for t in _TAGS
    ]
    df = spark.createDataFrame(rows, ["time", "buildingID"])
    q = f'SELECT "buildingID" FROM flow WHERE {expr}'
    got = sorted(
        (str(r["time"]), r["buildingID"])
        for r in translate(df, q).collect()
    )
    exp = sorted(
        (str(ts), tag)
        for ts, tag in rows
        if _py_eval(expr, {"time": ts, "buildingID": tag})
    )
    assert got == exp, expr


def _lp_escape(s: str) -> str:
    return s.replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")


#: ASCII letters and digits plus the three characters identifiers
#: must escape (written as \, \  and \=)
_LP_IDENT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"),
        max_codepoint=0x7F,
        whitelist_characters=" ,=",
    ),
    min_size=1,
    max_size=12,
)
#: tag/field keys from a small pool too, so repeated keys are common
_LP_KEY = st.one_of(st.sampled_from(["k", "v"]), _LP_IDENT)
#: quoted string field contents: spaces, commas, '=' and '"' (written
#: as \")
_LP_STRING = st.text(alphabet=st.sampled_from('ab9 ,="'), max_size=8)
_LP_FLOAT = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
)


def _lp_value(v) -> str:
    if isinstance(v, str):
        return '"' + v.replace('"', '\\"') + '"'
    return repr(v)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            _LP_IDENT,  # measurement
            st.lists(st.tuples(_LP_KEY, _LP_IDENT), max_size=3),  # tags
            st.lists(
                st.tuples(_LP_KEY, st.one_of(_LP_FLOAT, _LP_STRING)),
                min_size=1,
                max_size=4,
            ),  # float and string fields
            st.integers(min_value=0, max_value=2**53),  # ts ns
        ),
        min_size=1,
        max_size=8,
    )
)
def test_line_protocol_roundtrip(spark, points):
    """Generate line-protocol text from structured points; parsing it
    back recovers measurement/tags/fields/timestamp exactly (µs
    truncation of the ns timestamp). Identifiers carry escaped
    commas, spaces and equals signs; string fields carry unescaped
    ones and escaped quotes; a repeated tag or field key keeps its
    LAST value."""
    from ciws_server_spark.plans.line_protocol import parse_lines

    lines = []
    for meas, tags, fields, ts in points:
        head = _lp_escape(meas)
        for k, v in tags:
            head += f",{_lp_escape(k)}={_lp_escape(v)}"
        body = ",".join(f"{_lp_escape(k)}={_lp_value(v)}" for k, v in fields)
        lines.append(f"{head} {body} {ts}")
    df = spark.createDataFrame([(ln,) for ln in lines], "value STRING")
    got = parse_lines(df).collect()
    assert len(got) == len(points)
    for r, (meas, tags, fields, ts) in zip(got, points):
        assert r["measurement"] == meas
        assert (r["tags"] or {}) == dict(tags)
        want = dict(fields)  # last wins
        assert set(r["fields"]) == set(want)
        for k, v in want.items():
            if isinstance(v, str):
                # raw map values keep the quotes; \" reads back as "
                assert r["fields"][k] == f'"{v}"'
            else:
                assert float(r["fields"][k]) == v
        import datetime as dt

        expect = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=ts // 1000
        )
        assert r["ts"] == expect


# --- fixed-point exactness contract (q1 / window fast paths) ---------

_MONEY_2DP = st.integers(min_value=-(10**13), max_value=10**13).map(
    lambda cents: cents / 100.0
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_MONEY_2DP, min_size=1, max_size=64))
def test_fixed_point_exact_on_2dp_money(spark, vals):
    """fixed_point(v, 2) == the unscaled DECIMAL(·,2) conversion for
    ANY ≤2dp value in the documented magnitude range (|v·100| < 2^53)
    — the contract that makes the q1/window long-fixed-point paths
    legal (functions/scalar.py)."""
    from ciws_server_spark.functions.scalar import fixed_point

    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    rows = df.select(
        fixed_point("v", 2).alias("fp"),
        (F.col("v").cast("decimal(20,2)") * F.lit(100).cast("decimal(3,0)"))
        .cast("long")
        .alias("dec"),
    ).collect()
    for v, r in zip(vals, rows):
        assert r.fp == r.dec == round(v * 100), (v, r.fp, r.dec)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=32,
    )
)
def test_unscale_matches_exact_rational(spark, sums):
    """unscale(s, scale) == nearest double of the exact rational
    s/10^scale — including past 2^53 where a double division would
    drift (functions/scalar.py)."""
    import decimal as _dec

    from ciws_server_spark.functions.scalar import unscale

    df = spark.createDataFrame([(s,) for s in sums], ["s"])
    rows = df.select(unscale(F.col("s"), 4).alias("v")).collect()
    for s, r in zip(sums, rows):
        assert r.v == float(_dec.Decimal(s) / _dec.Decimal(10**4)), (s, r.v)
