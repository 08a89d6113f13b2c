"""Property-based tests (hypothesis) for the pure-Python layers: identifier
parsing round-trips and the format-string interpreter never crashing.

The reference has no property tests (SURVEY.md §5); these guard the layers
where hand-rolled parsing lives.
"""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.errors import (
    ArithmeticException,
    NumberFormatException,
    SparkRuntimeException,
)

from mondrian_olap_spark.formats import format_value
from mondrian_olap_spark.mdx import (
    _VBA_EXCEL,
    MdxError,
    MdxParser,
    execute_mdx,
    references,
    rewrite_calls,
    split_args,
)
from mondrian_olap_spark.query import QueryError
from mondrian_olap_spark.members import format_name, parse_identifier, quote_segment

segments = st.lists(
    st.text(min_size=1, max_size=12).filter(lambda s: s.strip() == s and s != ""),
    min_size=1,
    max_size=4,
)


@given(segments)
@settings(max_examples=200)
def test_identifier_roundtrip(segs):
    """quote → parse is the identity for arbitrary segment content
    (including ']' which must escape as ']]' — query.rb:409-414)."""
    assert parse_identifier(format_name(segs)) == segs


@given(st.text(min_size=1, max_size=20).filter(lambda s: s.strip() == s and s != ""))
@settings(max_examples=200)
def test_quote_always_parses(seg):
    parsed = parse_identifier(quote_segment(seg))
    assert parsed == [seg]


#: measure names built from the characters a call scanner could trip on
#: and from the function table's own names
_scanner_names = st.lists(
    st.sampled_from(["(", ")", ",", "'", "]", " ", *_VBA_EXCEL]),
    min_size=1,
    max_size=12,
).map("".join)


@given(_scanner_names)
@settings(max_examples=300)
def test_call_scanner_keeps_bracketed_names_whole(name):
    """A quoted ``[Measures].[<name>]`` is opaque to the call scanner and
    the argument splitter (``]]`` escapes ``]``), whatever function
    names, parentheses, commas or quotes the name holds."""
    ref = "[Measures]." + quote_segment(name)
    assert rewrite_calls(ref, _VBA_EXCEL) == ref
    assert split_args(ref) == [ref]
    seen = []
    table = {"f": lambda args: seen.append(args) or "x"}
    assert rewrite_calls(f"f({ref}, 2) + {ref}", table) == f"x + {ref}"
    assert seen == [[ref, "2"]]


#: member names from the characters the set grammar reads outside a
#: ``[...]`` segment
_set_names = st.lists(
    st.lists(
        st.sampled_from(["{", "}", "*", ",", "(", ")", "'", "]", "a", " "]),
        min_size=1,
        max_size=8,
    ).map("".join),
    min_size=1,
    max_size=4,
)


@given(_set_names)
@settings(max_examples=200, deadline=None)
def test_formula_sets_read_like_axis_sets(engine, names):
    """A ``{…}`` set written inside a formula — as a set statistic's or
    Aggregate's argument — reads the members :meth:`MdxParser.parse_set`
    reads on an axis, whatever braces, commas, quotes or brackets the
    member names hold."""
    members = [f"[Customer].{quote_segment(n)}" for n in names]
    text = "{" + ", ".join(members) + "}"
    assert MdxParser(engine, text).parse_set().base == members
    parser = MdxParser(engine, "SELECT FROM [Sales]")
    assert parser._formula_set(text).base == members
    parser.translate_expression_text(f"Median({text}, [Measures].[Sum Qty])")
    parser.translate_expression_text(f"Aggregate({text})")
    (stat,) = parser.q._stat_scalars
    (tup,) = parser.q._tuple_scalars
    assert list(stat[3]) == list(tup[2]) == members


def test_split_args_escaped_bracket():
    assert split_args("[Customer].[a]],b], 2") == ["[Customer].[a]],b]", "2"]


#: text built from the time-intelligence and CurrentMember names and the
#: characters a scanner could trip on
_quoted_text = st.lists(
    st.sampled_from([
        "(", ")", ",", ".", " ", "'", '"', "[", "]", "Sum", "Ytd", "Qtd",
        "PeriodsToDate", "LastPeriods", "ParallelPeriod", "OpeningPeriod",
        "ClosingPeriod", "Ancestor", "Lag", "PrevMember", "CurrentMember",
        "[Time]", "Name",
    ]),
    max_size=12,
).map("".join)


@given(st.lists(
    st.tuples(st.sampled_from(["'", '"', "["]), _quoted_text),
    min_size=1,
    max_size=4,
))
@settings(max_examples=300)
def test_scanners_never_look_inside_literals_or_names(pieces):
    """Names inside ``'…'``, ``"…"`` or ``[…]`` never reach a call table
    (not even the ``""`` tuple entry) nor the leftover time-intelligence
    scan, and the splitter keeps each piece whole."""
    from mondrian_olap_spark.query import _TIME_INTEL_RE

    quoted = [
        "'" + t.replace("'", "''") + "'" if q == "'"
        else '"' + t.replace('"', "") + '"' if q == '"'
        else quote_segment(t)
        for q, t in pieces
    ]

    def fire(args):
        raise AssertionError(f"table entry fired on {args}")

    names = ["", "sum", "ytd", "qtd", "periodstodate", "lastperiods",
             "parallelperiod", "openingperiod", "closingperiod", "ancestor",
             "lag", "prevmember", "currentmember", "name"]
    text = " + ".join(quoted)
    assert rewrite_calls(text, dict.fromkeys(names, fire)) == text
    assert not any(m.group(1) for m in _TIME_INTEL_RE.finditer(text))
    assert split_args(", ".join(quoted)) == quoted


def test_split_args_double_quoted_literal():
    assert split_args('"a, b", 2') == ['"a, b"', "2"]


#: literal bodies built from what the formula passes and the dependency
#: scan look for
_literal_bodies = st.lists(
    st.sampled_from([
        "Parameter(", "ParamRef(", "IIF(", "IsDirty()", "StrToTuple(",
        "Dimensions(0)", "CASE", "END", ".Name", ".Item(0)", " MATCHES ",
        "[Measures].[Sum Qty]", "([Customer].[ASIA])", "sum_qty", "(", ")",
        ",",
    ]),
    max_size=12,
).map("".join)


@given(_literal_bodies, st.sampled_from(["'", '"']))
@settings(max_examples=300, deadline=None)
def test_formula_literal_is_opaque(engine, body, quote):
    """A formula that is one string literal, in either quote style,
    translates to itself and refers to nothing."""
    f = quote + body + quote
    parser = MdxParser(engine, "SELECT FROM [Sales]")
    assert parser.translate_expression_text(f) == f
    assert not references(f)


#: tokens of the formula family the tree lowers itself
_family_tokens = st.sampled_from([
    "1", "2.5", "'a'", "'A.*'", "[Measures].[Sum Qty]",
    "[Measures].[Sum Price]", "+", "-", "*", "/", "=", "<>", "<", ">",
    "AND", "OR", "NOT", "(", ")", ",", "CASE", "WHEN", "THEN", "ELSE",
    "END", "IIf", "CoalesceEmpty", "MATCHES", ".Name", ".Item(0)",
])


@given(st.lists(_family_tokens, min_size=1, max_size=10))
@settings(max_examples=150, deadline=None)
def test_formula_answers_or_raises_a_typed_error(engine, toks):
    """A ``WITH MEMBER`` formula of the migrated family's tokens, in any
    order, answers or raises MdxError/QueryError — never a Spark
    ParseException or AnalysisException on text the engine produced.
    Runtime cast and arithmetic errors (``'a' * 2`` under ANSI) are a
    separate matter: the formula is well-formed."""
    formula = " ".join(toks)
    mdx = (
        "WITH MEMBER [Measures].[F] AS '" + formula.replace("'", "''")
        + "' SELECT [Measures].[F] ON COLUMNS FROM [Sales]"
    )
    try:
        execute_mdx(engine, mdx).df.collect()
    except (MdxError, QueryError):
        pass
    except (ArithmeticException, NumberFormatException, SparkRuntimeException):
        pass


number_formats = st.sampled_from(
    ["#,##0.00", "#,##0", "0.0%", "$#,##0.00", "0.00;(0.00)", "Percent",
     "Fixed", "Currency", "#.##", "0", "0.000000"]
)


@given(
    st.floats(allow_nan=True, allow_infinity=False, width=64),
    number_formats,
)
@settings(max_examples=300)
def test_format_never_crashes_and_is_string(value, fmt):
    out = format_value(value, fmt)
    assert isinstance(out, str) and out != ""


@given(st.integers(min_value=-(10**12), max_value=10**12))
@settings(max_examples=200)
def test_integer_grouping_roundtrip(n):
    out = format_value(n, "#,##0")
    assert int(out.replace(",", "")) == n


def test_salted_aggregate_matches_direct(spark, engine):
    from pyspark.sql import functions as F

    from mondrian_olap_spark.functions.skew import salted_aggregate

    fact = engine.fact
    direct = {
        r["l_returnflag"]: r
        for r in fact.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("s"),
            F.count("l_quantity").alias("c"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
            F.avg("l_discount").alias("av"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: r
        for r in salted_aggregate(
            fact,
            ["l_returnflag"],
            [
                ("s", "sum", "l_quantity"),
                ("c", "count", "l_quantity"),
                ("mn", "min", "l_extendedprice"),
                ("mx", "max", "l_extendedprice"),
                ("av", "avg", "l_discount"),
            ],
            salt=8,
        ).collect()
    }
    assert direct.keys() == salted.keys()
    for k in direct:
        assert direct[k]["c"] == salted[k]["c"]
        assert direct[k]["mn"] == salted[k]["mn"]
        assert direct[k]["mx"] == salted[k]["mx"]
        assert math.isclose(direct[k]["s"], salted[k]["s"], rel_tol=1e-9)
        assert math.isclose(direct[k]["av"], salted[k]["av"], rel_tol=1e-9)


# ---------------------------------------------------------- sampling maths
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50,
             unique=True),
    st.lists(st.floats(min_value=0.01, max_value=10.0, allow_nan=False),
             min_size=2, max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_split_case_partitions_hash_space(ids, weights):
    """The pure-Python bucket/threshold maths behind assign_splits: every
    bucket lands in exactly one split, thresholds are monotonic, and the
    mapping is deterministic."""
    import hashlib

    from mondrian_olap_spark.operators.sampling import _BUCKETS

    names = [f"s{i}" for i in range(len(weights))]
    w = dict(zip(names, weights))
    total = sum(w.values())
    cuts = []
    acc = 0.0
    for n in names[:-1]:
        acc += w[n] / total * _BUCKETS
        cuts.append(int(round(acc)))
    assert cuts == sorted(cuts)
    for i in ids:
        b = (
            int(hashlib.md5(f"split:{i}".encode()).hexdigest()[:15], 16) % _BUCKETS
        )
        matches = [n for n, c in zip(names[:-1], cuts) if b < c]
        # first matching threshold wins; no threshold → last split
        chosen = matches[0] if matches else names[-1]
        assert chosen in names


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_pii_patterns_idempotent(text):
    """Redacting already-redacted text changes nothing: the placeholder
    tokens never re-match the PII patterns."""
    import re as _re

    from mondrian_olap_spark.operators.text import PII_PATTERNS

    def redact(s: str) -> str:
        s = _re.sub(PII_PATTERNS["email"], "<EMAIL>", s)
        return _re.sub(PII_PATTERNS["phone"], "<PHONE>", s)

    once = redact(text)
    assert redact(once) == once


# ------------------------------------------- randomized MDX differential
_ROWS = [
    "[Customer].children",
    "[Customer].[Nation].Members",
    "[ReturnFlag].children",
    "[Time].[Year].Members",
]
_XJOIN = [None, "[LineStatus].children", "[Priority].children"]
_SLICER = [None, "[Time].[1995]", "[Customer].[ASIA]"]
_MEASURES = ["[Measures].[Sum Qty]", "[Measures].[Count Order]"]


@given(
    st.integers(0, len(_ROWS) - 1),
    st.integers(0, len(_XJOIN) - 1),
    st.integers(0, len(_SLICER) - 1),
    st.integers(1, 2),
    st.sampled_from(
        ["none", "topcount", "head", "order", "filter", "subset", "bottomsum", "except"]
    ),
)
@settings(max_examples=24, deadline=None)
def test_builder_mdx_differential_random(engine, ri, xi, si, nm, op):
    """Random bounded query shapes: the builder and its to_mdx text must
    produce identical grids (the reference's builder↔MDX equivalence,
    generalized beyond the golden cases)."""
    from mondrian_olap_spark.mdx import execute_mdx
    from mondrian_olap_spark.query import Query

    q = Query(engine).columns(*_MEASURES[:nm]).rows(_ROWS[ri])
    if _XJOIN[xi]:
        q = q.crossjoin(_XJOIN[xi])
    if op == "topcount":
        q = q.top_count(3, "sum_qty")
    elif op == "head":
        q = q.head(4)
    elif op == "order":
        q = q.order("sum_qty", "BDESC")
    elif op == "filter":
        q = q.filter("sum_qty > 1000")
    elif op == "subset":
        q = q.subset(1, 3)
    elif op == "bottomsum":
        q = q.bottom_sum(50000, "sum_qty")
    elif op == "except":
        if ri == 0:
            q = q.except_("[Customer].[ASIA]")
        elif ri == 3:
            q = q.except_("[Time].[1996]")
    if _SLICER[si]:
        q = q.where(_SLICER[si])
    direct = sorted(tuple(r) for r in q.execute().df.collect())
    via_mdx = sorted(tuple(r) for r in execute_mdx(engine, q.to_mdx()).df.collect())
    assert direct == via_mdx


# ------------------------------------------------------------ parser fuzz
_MDX_VOCAB = [
    "SELECT", "FROM", "WHERE", "ON", "COLUMNS", "ROWS", "WITH", "MEMBER",
    "SET", "AS", "NON", "EMPTY", "{", "}", "(", ")", ",", ".", ":",
    "[Sales]", "[Measures].[Sum Qty]", "[Customer].children",
    "[Customer].[Nation].Members", "[Time].[1995]", "CROSSJOIN", "FILTER",
    "TOPCOUNT", "ORDER", "HEAD", "'x'", "1", "2.5", "BDESC", "Item",
    "NONEMPTY", "COUSIN", "ANCESTOR", "DESCENDANTS", "Parent", "Children",
    # round-3 surface: object accessors, Dimensions(), StrToTuple, CASE
    "Dimensions", "StrToTuple", "Name", "Caption", "UniqueName", "Ordinal",
    "Dimension", "Hierarchy", "Level", "CASE", "WHEN", "THEN", "ELSE",
    "END", "'([Customer].[ASIA], [Time].[1995])'", "'Customer'", "0",
]


@given(st.lists(st.sampled_from(_MDX_VOCAB), min_size=1, max_size=25))
@settings(max_examples=120, deadline=None)
def test_mdx_parser_fuzz_never_crashes(engine, toks):
    """Token-soup fuzz: the parser either parses (query may even run) or
    raises a *typed* engine error — never a hang, never an internal
    exception like AttributeError/IndexError escaping to the caller."""
    from mondrian_olap_spark.mdx import MdxError, execute_mdx
    from mondrian_olap_spark.members import MemberParseError
    from mondrian_olap_spark.query import QueryError

    text = " ".join(toks)
    try:
        execute_mdx(engine, text)
    except (MdxError, MemberParseError, QueryError, KeyError, ValueError):
        pass


# ---------------------------------------------------------------- codecs
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_property(w, h, data):
    """decode_bmp recovers exact dimensions and channel means from any
    constructed 24-bpp image (including widths whose rows need padding)."""
    import struct

    import numpy as np

    from mondrian_olap_spark.operators import multimodal

    px = data.draw(
        st.lists(
            st.lists(st.tuples(*[st.integers(0, 255)] * 3), min_size=w, max_size=w),
            min_size=h,
            max_size=h,
        )
    )
    stride = ((w * 3 + 3) // 4) * 4
    body = b""
    for row in reversed(px):
        line = b"".join(bytes((b_, g, r)) for r, g, b_ in row)
        body += line + b"\x00" * (stride - len(line))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dw, dh, feats = multimodal.decode_bmp(head + info + body)
    assert (dw, dh) == (w, h)
    arr = np.array(px, dtype=np.float64) / 255.0
    assert feats[0] == pytest.approx(arr[..., 0].mean())
    assert feats[1] == pytest.approx(arr[..., 1].mean())
    assert feats[2] == pytest.approx(arr[..., 2].mean())
    assert feats[7] == pytest.approx(w / h)


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=2, max_size=200),
    channels=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(samples, channels, rate):
    """decode_wav recovers frame counts and amplitude statistics from any
    constructed PCM-16 payload."""
    import struct

    import numpy as np

    from mondrian_olap_spark.operators import multimodal

    n = (len(samples) // channels) * channels
    if n == 0:
        samples = samples + samples  # ensure one full frame
        n = (len(samples) // channels) * channels
    samples = samples[:n]
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", len(chunks)) + chunks
    per, ch, feats = multimodal.decode_wav(payload)
    assert (per, ch) == (n // channels, channels)
    x = np.array(samples, dtype=np.float64).reshape(-1, channels).mean(axis=1) / 32768.0
    assert feats[0] == pytest.approx(x.mean(), abs=1e-12)
    assert feats[1] == pytest.approx(float(np.sqrt(np.mean(x * x))), abs=1e-12)
    assert feats[2] == pytest.approx(float(np.abs(x).max()), abs=1e-12)
    assert feats[4] == pytest.approx(per / rate)


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=2, max_size=200),
    channels=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_encode_wav_is_decode_inverse_property(samples, channels, rate):
    """encode_wav -> decode_wav recovers frame geometry and the exact
    sample statistics for ANY int16 content, channel count and rate —
    the writer and parser agree on the RIFF layout byte-for-byte."""
    import numpy as np

    from mondrian_olap_spark.operators import multimodal

    n = (len(samples) // channels) * channels
    samples = samples[:n] if n else samples + samples[: channels - len(samples) % channels]
    if not samples:
        samples = [0] * channels
    payload = multimodal.encode_wav(samples, sample_rate=rate, channels=channels)
    per, ch, feats = multimodal.decode_wav(payload)
    assert (per, ch) == (len(samples) // channels, channels)
    x = (
        np.array(samples, dtype=np.float64).reshape(-1, channels).mean(axis=1)
        / 32768.0
    )
    assert feats[0] == pytest.approx(x.mean(), abs=1e-12)
    assert feats[2] == pytest.approx(float(np.abs(x).max()), abs=1e-12)
    assert feats[5] == pytest.approx(rate / 1000.0)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=10, deadline=None)
def test_zorder_key_matches_python_reference(spark, pairs):
    """The Spark Morton key equals a direct Python bit-interleave for
    arbitrary in-range inputs (one batched job per example), and is
    injective on distinct inputs."""
    from mondrian_olap_spark.operators import util

    def ref(x, y, bits=8):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r["z"]
        for r in df.select(util.zorder_key("x", "y", bits=8).alias("z"))
        .collect()
    ]
    want = [ref(x, y) for x, y in pairs]
    assert sorted(got) == sorted(want)
    assert len(set(want)) == len(set(pairs))
