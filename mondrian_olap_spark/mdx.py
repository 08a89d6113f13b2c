"""MDX string subset parser — entry point A (SURVEY.md §3;
``lib/mondrian/olap/connection.rb:75-86`` execute(mdx)).

Where the reference hands MDX text to Mondrian's JavaCC parser
(``jar!mondrian/parser/MdxParserImpl``), this module parses the practical
subset the reference's own tests exercise and lowers it onto the
:class:`~mondrian_olap_spark.query.Query` builder — so both entry points
share one planner:

* ``WITH MEMBER … AS '…' [, SOLVE_ORDER = n]``
* ``SELECT <set> ON COLUMNS, <set> ON ROWS, … FROM [Cube] [WHERE …]``
* ``NON EMPTY`` axis prefix
* set constructors: ``{…}`` literals, ``.Members`` / ``.AllMembers`` /
  ``.Children``, ``CROSSJOIN`` / ``NONEMPTYCROSSJOIN``, ``FILTER``,
  ``ORDER``, ``TOPCOUNT`` / ``BOTTOMCOUNT`` / ``TOPPERCENT`` / ``TOPSUM``
  (+ BOTTOM variants), ``EXCEPT``, ``DISTINCT``, ``HIERARCHIZE``
* value expressions over measures with arithmetic / comparisons / CASE-less
  boolean logic, ``Parameter("name", TYPE, default)`` and
  ``ParamRef("name")`` (``test/schema_definition_test.rb:1298-1427``).

Parse errors raise :class:`MdxError` carrying the offending fragment
(error-path parity: ``test/query_test.rb:761-803``).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from .members import (
    _NAV_SUFFIXES,
    MeasureRef,
    MemberParseError,
    format_name,
    parse_identifier,
    parse_identifier_tagged,
    quote_segment,
    resolve,
    resolve_level,
)


class MdxError(ValueError):
    """MDX-surface error with the reference's two-part shape
    (``error.message`` + ``error.root_cause_message`` —
    test/query_test.rb:761-803): the wrapper message describes the phase,
    the root cause carries the precise diagnostic."""

    def __init__(self, message: str, root_cause: str | None = None):
        super().__init__(message)
        self.root_cause_message = root_cause or message


def _line_col(src: str, pos: int) -> tuple[int, int]:
    """1-based (line, column) of a character offset — the reference reports
    'Syntax error at line L, column C' (query_test.rb:771)."""
    line = src.count("\n", 0, pos) + 1
    col = pos - (src.rfind("\n", 0, pos) + 1) + 1
    return line, col


# ------------------------------------------------------------------ lexer
#: one ``[...]`` identifier segment (``]]`` escapes a ``]``) and a
#: ``'...'``/``"..."`` string literal — the lexer's rules, shared by every
#: scan over formula text.  The repeats are possessive, as a lexer reads:
#: a doubled quote or bracket is always an escape, so a span has one parse
#: and a pattern that repeats these spans cannot backtrack through the 2^k
#: splits of k escapes
_SEG = r"\[(?:[^\]]|\]\])*+\]"
_LITERAL = r"'(?:[^']|'')*+'|\"[^\"]*+\""
#: a ``[...]`` identifier chain, ``[A].[B]. … .[Z]``
_ID_CHAIN = rf"{_SEG}(?:\s*\.\s*{_SEG})*+"
_TOKEN_RE = re.compile(
    rf"""
    (?P<ws>\s+)
  | (?P<bracket>{_SEG})
  | (?P<string>{_LITERAL})
  | (?P<number>\d+(?:\.\d+)?)
  | (?P<op><>|<=|>=|[<>=+\-*/(),.{{}}:])
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
""",
    re.VERBOSE,
)


@dataclass(frozen=True)
class Tok:
    kind: str
    text: str
    pos: int


def _splice_strtomember(toks: list[Tok]) -> list[Tok]:
    """``StrToMember('[A].[B]')`` → the member's own tokens spliced inline
    (jar!mondrian/olap/fun/StrToMemberFunDef).  With a literal argument —
    the whole subset, since formulas have no string variables — the call
    is a parse-time constant, so the splice makes the spelling valid
    ANYWHERE a member expression is: slicer, axis, tuple and set
    positions all see the plain identifier.  Non-literal arguments pass
    through and fail loudly at the ordinary parse site."""
    out: list[Tok] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.text.lower() == "strtomember"
            and i + 3 < len(toks)
            and toks[i + 1].text == "("
            and toks[i + 2].kind == "string"
            and toks[i + 3].text == ")"
        ):
            out.extend(
                _shift_toks(
                    tokenize(_unquote(toks[i + 2].text)),
                    toks[i + 2].pos + 1,
                )
            )
            i += 4
            continue
        out.append(t)
        i += 1
    return out


def _shift_toks(toks: list[Tok], base: int) -> list[Tok]:
    """Re-base token positions of a nested string's tokens onto the OUTER
    statement (base = offset of the string content), so syntax-error
    line/column diagnostics point at the real location."""
    return [Tok(t.kind, t.text, base + t.pos) for t in toks]


def tokenize(s: str) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            line, col = _line_col(s, i)
            raise MdxError(
                f"MDX lexer error at position {i}: {s[i:i+20]!r}",
                root_cause=(
                    f"Lexical error at line {line}, column {col}: "
                    f"{s[i:i+20]!r}"
                ),
            )
        kind = m.lastgroup
        if kind != "ws":
            out.append(Tok(kind, m.group(), i))
        i = m.end()
    return out


# ----------------------------------------------------------------- parser
_SET_FUNCTIONS = {
    "crossjoin",
    "nonemptycrossjoin",
    "nonempty",
    "filter",
    "order",
    "topcount",
    "bottomcount",
    "toppercent",
    "bottompercent",
    "topsum",
    "bottomsum",
    "except",
    "distinct",
    "hierarchize",
    "head",
    "tail",
    "subset",
    "generate",
    "drilldownmember",
    "toggledrillstate",
    "drilldownlevel",
    "drilldownleveltop",
    "drilldownlevelbottom",
    "exists",
    "ytd",
    "qtd",
    "mtd",
    "wtd",
    "periodstodate",
    "visualtotals",
    "union",
    "intersect",
}

_AXIS_NAMES = {"columns": 0, "rows": 1, "pages": 2, "chapters": 3, "sections": 4}

#: VBA DatePart/DateAdd/DateDiff interval literals → Spark extract
#: function / timestampadd-timestampdiff unit (Vba.datePart/dateAdd/
#: dateDiff interval grammar: yyyy q m y d w ww h n s)
_VBA_DATEPART_FN = {
    "yyyy": "year", "q": "quarter", "m": "month", "y": "dayofyear",
    "d": "day", "w": "dayofweek", "ww": "weekofyear",
    "h": "hour", "n": "minute", "s": "second",
}
_VBA_DATE_UNIT = {
    "yyyy": "YEAR", "q": "QUARTER", "m": "MONTH", "y": "DAY", "d": "DAY",
    "w": "DAY", "ww": "WEEK", "h": "HOUR", "n": "MINUTE", "s": "SECOND",
}

@dataclass(frozen=True)
class _SetStat:
    """A set-statistic VALUE function of formula text
    (jar!mondrian/olap/fun/{Median,Percentile,Stdev,Var,Correlation,
    Covariance,LinReg$*}FunDef; mondrian_test.rb:608-778).  ``fn`` is the
    functions.stats statistic: the dispersion and two-expression families
    lower onto the DETERMINISTIC decimal-moment variants, so results are
    shuffle-order-stable and oracle-replicable.  ``family`` names the
    arguments after the set: ``expr`` (set, expr), ``xy`` (set, y[, x])
    or ``count`` (set[, expr | EXCLUDEEMPTY]).  ``nan``: NaN, not NULL,
    when the statistic cannot be computed (mondrian_test.rb:673-686,
    765-778).  ``strict``: the name is unambiguously an MDX statistic, so
    a non-set first argument is an error; the generic names
    (sum/min/max/count/var…) pass through untouched instead — they may be
    legitimate SQL in a formula."""

    fn: str
    family: str = "expr"
    nan: bool = False
    strict: bool = False


_XY = dict(family="xy", nan=True, strict=True)
#: MDX name → its statistic
_SETSTAT = {
    "sum": _SetStat("sum"), "avg": _SetStat("avg"),
    "min": _SetStat("min"), "max": _SetStat("max"),
    "count": _SetStat("count", family="count"),
    "median": _SetStat("median", strict=True),
    "percentile": _SetStat("percentile", strict=True),
    "stdev": _SetStat("dstdev", strict=True),
    "stddev": _SetStat("dstdev", strict=True),
    "stdevp": _SetStat("dstdevp", strict=True),
    "stddevp": _SetStat("dstdevp", strict=True),
    "var": _SetStat("dvar"), "variance": _SetStat("dvar"),
    "varp": _SetStat("dvarp"), "variancep": _SetStat("dvarp"),
    "correlation": _SetStat("dcorrelation", **_XY),
    "covariance": _SetStat("dcovariance", **_XY),
    "covariancen": _SetStat("dcovariancen", **_XY),
    "linregslope": _SetStat("dlinregslope", **_XY),
    "linregintercept": _SetStat("dlinregintercept", **_XY),
    "linregr2": _SetStat("dlinregr2", **_XY),
    "linregvariance": _SetStat("dlinregvariance", **_XY),
    "linregpoint": _SetStat("linregpoint", **_XY),
}


# ------------------------------------------------- calls and their arguments
#: spans a scan steps over whole
_OPAQUE = _SEG + "|" + _LITERAL
_ARG_RE = re.compile(_OPAQUE + r"|[(){},]")
_CALL_RE = re.compile(_OPAQUE + r"|\b([A-Za-z_]\w*+)\s*\(|[()]")
_PAREN_RE = re.compile(_OPAQUE + r"|[()]")
#: every ``NAME(``, literals and identifiers not stepped over
_CALL_NAME_RE = re.compile(r"\b([A-Za-z_]\w*+)\s*\(")


def split_args(inner: str) -> list[str]:
    """Split a call's argument text on its TOP-LEVEL commas — not inside
    ``()``/``{}`` nesting, ``[...]`` identifiers (member names may contain
    commas) or string literals.  Blank text has no arguments."""
    if not inner.strip():
        return []
    args: list[str] = []
    depth = start = 0
    for m in _ARG_RE.finditer(inner):
        tok = m.group()
        if tok in ("(", "{"):
            depth += 1
        elif tok in (")", "}"):
            depth -= 1
        elif tok == "," and depth == 0:
            args.append(inner[start : m.start()].strip())
            start = m.end()
    args.append(inner[start:].strip())
    return args


def rewrite_calls(text: str, table: dict) -> str:
    """The call rewriter: each ``NAME(args)`` whose lower-case NAME is a
    ``table`` key becomes ``table[name](args)``, where ``args`` is the
    :func:`split_args` list with the arguments' own calls already
    rewritten; a ``None`` result keeps the call as written.  A bare
    parenthesised group — a tuple — is offered to the entry under key
    ``""``.  A replacement is never rescanned, so a builder may emit any
    text — a call of a table name included.  ``[...]`` identifiers and
    string literals are never looked inside."""
    if "" not in table and not any(
        n.lower() in table for n in _CALL_NAME_RE.findall(text)
    ):
        return text  # no call of the table's (the common case)
    return _scan(text, 0, table, False)[0]


def _scan(text: str, pos: int, table: dict, nested: bool):
    """Rewrite ``text`` from ``pos`` to its end or, when ``nested``, to the
    first unbalanced ``)`` → (rewritten text, index where the scan
    stopped)."""
    out: list[str] = []
    depth, last = 0, pos
    while (m := _CALL_RE.search(text, pos)) is not None:
        pos = m.end()
        name = m.group(1)
        if name:
            fn = table.get(name.lower())
        else:  # a bare group is the "" entry's
            fn = table.get("") if m.group() == "(" else None
        if fn is not None:
            inner, close = _scan(text, pos, table, True)
            if close == len(text):  # unbalanced: not a call
                out.append(text[last:pos] + inner)
                return "".join(out), close
            new = fn(split_args(inner))
            if new is None:
                out.append(text[last:pos] + inner + ")")
            else:
                out.append(text[last : m.start()] + new)
            pos = last = close + 1
        elif m.group()[-1] == "(":
            depth += 1
        elif m.group() == ")":
            if nested and depth == 0:
                out.append(text[last : m.start()])
                return "".join(out), m.start()
            depth -= 1
    out.append(text[last:])
    return "".join(out), len(text)


def _call_args(text: str, name: str) -> list[str] | None:
    """The arguments when ``text`` is exactly one ``name(...)`` call."""
    m = re.match(rf"(?i)\s*{name}\s*\(", text)
    if m is None:
        return None
    inner, close = _scan(text, m.end(), {}, True)
    if close == len(text) or text[close + 1 :].strip():
        return None
    return split_args(inner)


def _code_re(pattern: str, flags) -> re.Pattern:
    """``pattern`` or, failing it at a position, a whole string literal or
    ``[...]`` identifier (group ``_opaque``): a match of ``pattern`` then
    starts in code — never inside a literal or identifier, though at its
    opening quote or ``[`` — and may run over one (an operand)."""
    return re.compile(f"(?:{pattern})|(?P<_opaque>{_OPAQUE})", flags)


def sub_code(pattern: str, repl, text: str, flags=0) -> str:
    """``re.sub`` over formula text: only the matches of ``pattern`` that
    start in code (:func:`_code_re`) become ``repl(match)``."""
    return _code_re(pattern, flags).sub(
        lambda m: m.group() if m.group("_opaque") else repl(m), text
    )


def search_code(pattern: str, text: str, flags=0) -> re.Match | None:
    """The first match of ``pattern`` that starts in code, or None."""
    return next(
        (
            m
            for m in _code_re(pattern, flags).finditer(text)
            if m.group("_opaque") is None
        ),
        None,
    )


def _canon(text: str) -> str:
    """``text`` with whitespace removed and lower-cased outside string
    literals — the key under which two spellings of one fragment meet."""
    return "".join(
        p if p[:1] in ("'", '"') else re.sub(r"\s", "", p).lower()
        for p in re.split(f"({_OPAQUE})", text)
    )


#: alias prefix of each scalar registry (``Query._tuple_scalars``,
#: ``_stat_scalars``) → the key of an entry, its alias dropped: entries
#: with one key lower the same value.  Code compares by :func:`_canon`; a
#: measure name and a Generate separator exactly (the name up to case).
_SCALAR_KEYS = {
    "__tuple": lambda name, members: (
        name and name.lower(), tuple(map(_canon, members))
    ),
    "__setstat": lambda fn, exprs, members, arg, _nan, existing, where: (
        fn, tuple(map(_canon, exprs)), tuple(map(_canon, members)), arg,
        existing, where and _canon(where),
    ),
}


def _intern(scalars: list, prefix: str, *entry) -> str:
    """The alias of scalar ``entry`` in the registry ``scalars``: that of
    an earlier entry with its key (:data:`_SCALAR_KEYS`), else a new
    ``{prefix}{n}``, appended with the entry."""
    key = _SCALAR_KEYS[prefix]
    for prior in scalars:
        if key(*prior[1:]) == key(*entry):
            return prior[0]
    alias = f"{prefix}{len(scalars)}"
    scalars.append((alias, *entry))
    return alias


#: a ``[...]`` segment right after a name, ``)`` or ``]`` (group 1) is a
#: SQL subscript — ``arr[i]``, ``array(…)[sum_qty % 3]`` — as well as a name
_REF_RE = re.compile(
    rf"(?<=[\w)\]])({_SEG})|({_SEG})|{_LITERAL}|\b([A-Za-z_]\w*+)(?!\s*\()"
)


def references(text: str) -> list[str]:
    """The names formula or SQL ``text`` refers to, lower-cased, each once
    in order of appearance: every bare identifier not followed by ``(``
    (a call) and the name inside every ``[...]`` segment — with, for a
    subscript, the references of its index expression — never anything
    inside a string literal.  The one dependency scan over formulas."""
    refs: dict[str, None] = {}
    for m in _REF_RE.finditer(text):
        subscript, seg, name = m.groups()
        if seg or subscript:
            body = (seg or subscript)[1:-1]
            refs[body.replace("]]", "]").strip().lower()] = None
            if subscript:
                refs.update(dict.fromkeys(references(body)))
        elif name:
            refs[name.lower()] = None
    return list(refs)


# ------------------------------------------------------ the current member
#: ``<id>.CurrentMember``, ``<id>`` one or two ``[...]`` segments
_CURRENT_RE = re.compile(
    rf"\s*({_SEG}(?:\s*\.\s*{_SEG})?)\s*\.\s*currentmember\b\s*", re.I
)
#: a string literal (stepped over) or a ``[...]`` identifier chain
_CHAIN_RE = re.compile(rf"{_LITERAL}|{_ID_CHAIN}")
#: ``.<Prop>[(`` after a current member; ``}`` closes the ``{…}`` sugar
_PROP_RE = re.compile(r"(\}\s*)?\.\s*([A-Za-z_]\w*)(?:\s*(\())?")


def hierarchy_dimension(cube, ident: str):
    """The dimension ``ident`` addresses as a hierarchy — ``[Dim]`` or
    the ``[Dim].[Dim]`` form — or None when it is a member path.  An
    identifier naming no dimension of ``cube`` raises."""
    segs = parse_identifier(".".join(re.findall(_SEG, ident)))
    try:
        dim = cube.dimension(segs[0])
    except KeyError as e:
        raise MdxError(e.args[0]) from None
    if len(segs) > 2 or segs[-1].lower() not in (
        segs[0].lower(),
        dim.name.lower(),
    ):
        return None
    return dim


def current_member(cube, text: str, pos: int = 0):
    """The CurrentMember recogniser: ``(dimension, end)`` when ``text``
    reads ``<id>.CurrentMember`` from ``pos`` (surrounding blanks are in
    the span), ``<id>`` a hierarchy (:func:`hierarchy_dimension`); else
    None."""
    m = _CURRENT_RE.match(text, pos)
    if m is None:
        return None
    dim = hierarchy_dimension(cube, m.group(1))
    return None if dim is None else (dim, m.end())


def current_members(cube, text: str) -> list:
    """Each ``<id>.CurrentMember`` in ``text`` outside string literals,
    as ``(start, dimension, end)``."""
    found = []
    for m in _CHAIN_RE.finditer(text):
        if m.group()[0] == "[":
            cur = current_member(cube, text, m.start())
            if cur is not None:
                found.append((m.start(), *cur))
    return found


def lower_member_properties(text, cube, level_of, spark, error=MdxError):
    """The property lowering: each ``<id>.CurrentMember.<Prop>[(args)]``
    outside string literals — and the singleton-set sugar
    ``{<id>.CurrentMember}.<Prop>`` (schema_definition_test.rb:1073-1089)
    — becomes SQL over the member column of ``level_of(dimension)``, the
    caller's binding of the current member.  ``Name`` is the member key
    as a string, ``Caption`` its caption column when one is declared;
    any other property must be a scalar UDF registered on ``spark``
    (:func:`..udf.register_scalar`), applied to the member name — the
    reference's member-property UDFs (schema_definition_test.rb:
    1055-1071).  An unknown property raises ``error``."""
    out: list[str] = []
    last = 0
    for start, dim, end in current_members(cube, text):
        p = _PROP_RE.match(text, end)
        if p is None:
            continue  # a bare member: not a property
        from .star import _has_caption
        from .udf import registered_functions

        if p.group(1):  # {<id>.CurrentMember}.<Prop>
            head = text[:start].rstrip()
            if not head.endswith("{"):
                continue
            start = len(head) - 1
        stop, args = p.end(2), ""
        if p.group(3):
            inner, close = _scan(text, p.end(), {}, True)
            if close < len(text):
                stop, args = close + 1, inner
        lv = level_of(dim)
        name_col = f"cast({lv.out} as string)"
        prop = p.group(2)
        if prop.lower() == "name":
            sql = name_col
        elif prop.lower() == "caption":
            sql = f"{lv.out}_caption" if _has_caption(lv) else name_col
        elif prop.lower() in {n.lower() for n in registered_functions(spark)}:
            sql = f"{prop}({name_col}{', ' + args if args.strip() else ''})"
        else:
            raise error(
                f"unknown member property {prop!r} — Name, Caption, or a "
                "UDF registered with register_scalar"
            )
        out.append(text[last:start] + sql)
        last = stop
    out.append(text[last:])
    return "".join(out)


# ------------------------------------------------ VBA / Excel function table
# (jar!mondrian/olap/fun/vba/Vba.class and Excel.class; SURVEY.md §2.7).
# Functions Spark already has under the VBA/Excel name and meaning —
# Len/Left/Right/Replace/Trim/LTrim/RTrim/Space/Chr, InStr(h, n), Round,
# Power and the trig/log family (Degrees/Radians/Acosh/Asinh/Atanh …) —
# are not in the table: they reach Spark as written.
@dataclass(frozen=True)
class _Fn:
    """One table entry: the argument counts it accepts (``hi`` None = no
    upper bound) and the builder lowering the split arguments to Spark
    SQL.  A call outside the arity, or one the builder declines (None),
    stays as written — Spark may have a same-named builtin for that form.
    ``literal``: the first argument must be a string literal, passed to
    the builder as its unquoted lower-case value (None when it is not
    one)."""

    lo: int
    hi: int | None
    build: Callable[..., str | None]
    literal: bool = False

    def __call__(self, args: list[str]) -> str | None:
        if len(args) < self.lo or (self.hi is not None and len(args) > self.hi):
            return None
        if self.literal:
            lit = re.fullmatch(_LITERAL, args[0])
            args = [lit and _unquote(args[0]).lower(), *args[1:]]
        return self.build(*args)


def _rename(spark_name: str):
    """A function Spark has under another name."""
    return lambda *args: f"{spark_name}({', '.join(args)})"


def _wrap(head: str, tail: str):
    """A one-argument function lowered to ``head + arg + tail``."""
    return lambda x: head + x + tail


def _paren(*args: str) -> list[str]:
    return [f"({a})" for a in args]


def _strcomp(a, b, _compare=None):
    """StrComp(a, b[, compare]) → -1/0/1 (Vba.strComp, binary compare; the
    compare mode is accepted and ignored — binary is the VBA default)."""
    return (
        f"(case when ({a}) < ({b}) then -1 "
        f"when ({a}) = ({b}) then 0 else 1 end)"
    )


def _string(n, char):
    """String(n, char) — char repeated n times (Vba.string; only the first
    character of a longer string counts, per VBA)."""
    return f"repeat(substring(({char}), 1, 1), cast(({n}) as int))"


def _mod(n, d):
    """Excel MOD(n, d): FLOORED modulo — the result takes the DIVISOR's
    sign (Excel.mod; MOD(-3, 2) = 1), unlike Spark's %/mod (dividend's
    sign)."""
    return f"(({n}) - ({d}) * floor(({n}) / ({d})))"


def _atan2(x, y):
    """Excel ATAN2(x, y) takes (x, y) — the REVERSE of the Java/Spark
    atan2(y, x) convention (Excel.atan2 swaps before delegating)."""
    return f"atan2(({y}), ({x}))"


def _sln(c, s, life):
    """SLN(cost, salvage, life) — straight-line depreciation (Vba.sLN)."""
    return f"((({c}) - ({s})) / ({life}))"


def _syd(c, s, life, p):
    """SYD(cost, salvage, life, period) — sum-of-years'-digits
    depreciation (Vba.sYD)."""
    return (
        f"((({c}) - ({s})) * (({life}) - ({p}) + 1) * 2 "
        f"/ (({life}) * (({life}) + 1)))"
    )


# VBA financial functions (Vba.pmt/fV/pV/nPer/iPmt/pPmt/rate/dDB —
# standard time-value-of-money closed forms with the VBA sign convention:
# outgoing payments are negative).  Optional trailing args default to
# fv/pv = 0, type = 0 (payments at period END), DDB factor = 2; rate = 0
# falls back to the linear form via CASE.  IRR/MIRR/NPV stay
# unimplemented (array cashflow inputs — the MDX scalar surface has no
# natural encoding); they raise at translation time via the normal
# unknown-function path.
def _pmt(rate, nper, pv, fv="0", typ="0"):
    rate, nper, pv, fv, typ = _paren(rate, nper, pv, fv, typ)
    t = f"power(1 + {rate}, {nper})"
    return (
        f"(case when {rate} = 0 then -({pv} + {fv}) / {nper} "
        f"else -({fv} + {pv} * {t}) * {rate} "
        f"/ ((1 + {rate} * {typ}) * ({t} - 1)) end)"
    )


def _fv(rate, nper, pmt, pv="0", typ="0"):
    rate, nper, pmt, pv, typ = _paren(rate, nper, pmt, pv, typ)
    t = f"power(1 + {rate}, {nper})"
    return (
        f"(case when {rate} = 0 then -({pv} + {pmt} * {nper}) "
        f"else -({pv} * {t} + {pmt} * (1 + {rate} * {typ}) "
        f"* ({t} - 1) / {rate}) end)"
    )


def _pv(rate, nper, pmt, fv="0", typ="0"):
    rate, nper, pmt, fv, typ = _paren(rate, nper, pmt, fv, typ)
    t = f"power(1 + {rate}, {nper})"
    return (
        f"(case when {rate} = 0 then -({fv} + {pmt} * {nper}) "
        f"else -({fv} + {pmt} * (1 + {rate} * {typ}) "
        f"* ({t} - 1) / {rate}) / {t} end)"
    )


def _nper(rate, pmt, pv, fv="0", typ="0"):
    rate, pmt, pv, fv, typ = _paren(rate, pmt, pv, fv, typ)
    adj = f"({pmt} * (1 + {rate} * {typ}))"
    return (
        f"(case when {rate} = 0 then -({pv} + {fv}) / {pmt} "
        f"else ln(({adj} - {fv} * {rate}) "
        f"/ ({adj} + {pv} * {rate})) / ln(1 + {rate}) end)"
    )


def _ipmt(rate, per, nper, pv, fv="0", typ="0"):
    """IPmt(rate, per, nper, pv[, fv[, type]]): the interest share of
    period ``per``'s payment = the balance after per-1 payments (an FV)
    times the rate; a begin-of-period payment (type=1) accrues no
    interest in period 1 and discounts one period otherwise (Vba.iPmt
    composes pmt+fv exactly this way)."""
    rate, per, nper, pv, fv, typ = _paren(rate, per, nper, pv, fv, typ)
    bal = _fv(rate, f"({per}) - 1", _pmt(rate, nper, pv, fv, typ), pv, typ)
    return (
        f"(case when {typ} = 1 and {per} = 1 then 0.0 "
        f"when {typ} = 1 then {bal} * {rate} / (1 + {rate}) "
        f"else {bal} * {rate} end)"
    )


def _ppmt(rate, per, nper, pv, fv="0", typ="0"):
    """PPmt = Pmt − IPmt (Vba.pPmt)."""
    rate, per, nper, pv, fv, typ = _paren(rate, per, nper, pv, fv, typ)
    pmt = _pmt(rate, nper, pv, fv, typ)
    return f"({pmt} - {_ipmt(rate, per, nper, pv, fv, typ)})"


def _rate(nper, pmt, pv, fv="0", typ="0", guess="0.1"):
    """Rate(nper, pmt, pv[, fv[, type[, guess]]]) (Vba.rate): the annuity
    rate has no closed form — solve f(r)=0 by 40 Newton steps expressed
    as ONE fold over a constant sequence (Spark's ``aggregate``
    higher-order function), so the iteration stays a scalar expression
    inside codegen: no UDF, no driver loop.  f(r) = pv*t +
    pmt*(1+r*type)*(t-1)/r + fv with t=(1+r)^nper; 40 steps from the VBA
    default guess 0.1 converge to double precision for any realistic
    annuity."""
    nper, pmt, pv, fv, typ, guess = _paren(nper, pmt, pv, fv, typ, guess)
    t = f"power(1 + nr, {nper})"
    t1 = f"power(1 + nr, ({nper}) - 1)"
    f_r = f"({pv} * {t} + {pmt} * (1 + nr * {typ}) * ({t} - 1) / nr + {fv})"
    fp_r = (
        f"(({nper}) * {pv} * {t1} "
        f"+ {pmt} * {typ} * ({t} - 1) / nr "
        f"+ {pmt} * (1 + nr * {typ}) "
        f"* (({nper}) * {t1} * nr - ({t} - 1)) / (nr * nr))"
    )
    return (
        f"aggregate(sequence(1, 40), cast({guess} as double), "
        f"(nr, ii) -> nr - {f_r} / {fp_r})"
    )


def _ddb(c, s, life, p, factor="2"):
    """DDB(cost, salvage, life, period[, factor=2]): declining-balance
    depreciation for ONE period, floored so the book value never
    depreciates below salvage (Vba.dDB closed form)."""
    c, s, life, p, factor = _paren(c, s, life, p, factor)
    r = f"({factor} / {life})"
    book = f"({c} * power(1 - {r}, ({p}) - 1))"
    return f"(least({book} * {r}, greatest({book} - ({s}), 0.0)))"


def _choose(index, *values):
    """Choose(index, v1, v2, ...) (Vba.choose): 1-based selection, NULL
    out of range.  The index coerces the VBA way (CInt — banker's
    rounding).  get() is 0-based and NULL out of range on either side —
    elt() throws under Spark 4's ANSI default, which is not the VBA
    contract."""
    return f"get(array({', '.join(values)}), int(bround({index})) - 1)"


def _switch(*args):
    """Switch(cond1, v1[, cond2, v2, ...]) (Vba.switch): first true
    condition wins; NULL when none match — a CASE chain."""
    if len(args) % 2:
        return None
    whens = " ".join(
        f"WHEN ({c}) THEN ({v})" for c, v in zip(args[::2], args[1::2])
    )
    return f"(CASE {whens} END)"


def _instr(start, h, n, _compare=None):
    """InStr(start, haystack, needle[, compare]) (Vba.inStr): 1-based
    position, 0 when absent — Spark ``locate(needle, haystack, start)``;
    VBA's argument order differs from both Spark builtins.  The 2-arg
    form is outside the arity: Spark's own instr(haystack, needle) IS the
    VBA semantics.  The compare argument is accepted and ignored (binary
    compare, as in StrComp)."""
    return f"locate({n}, {h}, cast(({start}) as int))"


def _instrrev(h, n, start=None, _compare=None):
    """InStrRev(haystack, needle[, start[, compare]]) (Vba.inStrRev): the
    position of the LAST occurrence, 0 when absent — found via the
    reversed-string instr, re-based to the forward 1-index.  ``start``
    bounds the backward search (the match must END at or before it; the
    VBA -1 sentinel means the whole string); ``compare`` is accepted and
    ignored (binary compare, as in StrComp)."""
    if start is not None:
        h = (
            f"(CASE WHEN ({start}) = -1 THEN ({h}) "
            f"ELSE substring(({h}), 1, cast(({start}) as int)) END)"
        )
    return (
        f"(CASE WHEN instr(({h}), ({n})) = 0 THEN 0 "
        f"ELSE length(({h})) - length(({n})) + 2 "
        f"- instr(reverse(({h})), reverse(({n}))) END)"
    )


def _strconv(s, mode):
    """StrConv(s, conversion) (Vba.strConv): 1 = vbUpperCase,
    2 = vbLowerCase, 3 = vbProperCase; other modes (unicode/byte
    conversions) are charset operations with no analytic meaning here."""
    fn = {"1": "upper", "2": "lower", "3": "initcap"}.get(mode)
    if fn is None:
        raise MdxError(
            f"StrConv: conversion must be a literal 1 (upper), 2 (lower) "
            f"or 3 (proper case), got {mode!r}"
        )
    return f"{fn}({s})"


def _partition(num, start, stop, interval):
    """Partition(number, start, stop, interval) (Vba.partition): the
    "lower:upper" range label the number falls into, both sides
    right-aligned to ``len(str(stop)) + 1`` characters (the VBA layout
    rule, so labels sort and columnate).  Below start the lower side is
    blank and the upper is ``start-1``; above stop the lower is
    ``stop+1`` and the upper side is blank.  start/stop/interval must
    be integer literals — the label WIDTH is a formatting constant the
    rewrite must fold."""
    try:
        start, stop, interval = int(start), int(stop), int(interval)
    except ValueError:
        raise MdxError(
            "Partition: start, stop and interval must be integer literals"
        ) from None
    if interval < 1 or stop < start:
        raise MdxError("Partition: requires interval >= 1 and stop >= start")
    w = len(str(stop)) + 1
    pad = lambda e: f"lpad(cast({e} as string), {w}, ' ')"  # noqa: E731
    blank = f"repeat(' ', {w})"
    lo = (
        f"({start} + (cast(floor((cast(({num}) as double) - {start}) "
        f"/ {interval}) as bigint)) * {interval})"
    )
    return (
        f"(CASE WHEN ({num}) < {start} THEN "
        f"concat({blank}, ':', {pad(start - 1)}) "
        f"WHEN ({num}) > {stop} THEN "
        f"concat({pad(stop + 1)}, ':', {blank}) "
        f"ELSE concat({pad(lo)}, ':', "
        f"{pad(f'least({lo} + {interval} - 1, {stop})')}) END)"
    )


def _str(x):
    """Str(number) (Vba.str_): stringify with VBA's sign slot — a leading
    space for non-negative values, the minus sign otherwise."""
    return (
        f"(CASE WHEN ({x}) < 0 THEN cast(({x}) as string) "
        f"ELSE concat(' ', cast(({x}) as string)) END)"
    )


def _timeserial(h, m, s):
    """TimeSerial(hour, minute, second) (Vba.timeSerial): a time-of-day
    timestamp on the VBA zero date (1899-12-30), with out-of-range parts
    carrying over exactly as VBA does (TimeSerial(0, 90, 0) = 01:30)."""
    return (
        f"timestampadd(SECOND, cast(({h}) as int) * 3600 + "
        f"cast(({m}) as int) * 60 + cast(({s}) as int), "
        f"TIMESTAMP'1899-12-30 00:00:00')"
    )


def _weekday(d, fdw=None):
    """Weekday(date[, firstdayofweek]) (Vba.weekday): 1-arg form is the
    vbSunday default — exactly Spark's dayofweek numbering (1=Sunday..
    7=Saturday).  The 2-arg form rotates so the result is 1 when the day
    IS firstdayofweek: ``pmod(dayofweek(d) - fdw, 7) + 1``.  The
    vbUseSystemDayOfWeek sentinel (literal 0) resolves to vbSunday, the
    reference's default locale."""
    if fdw is None:
        return f"dayofweek({d})"
    if fdw == "0":
        fdw = "1"
    return f"(pmod(dayofweek({d}) - ({fdw}), 7) + 1)"


def _format_datetime(d, fmt="0"):
    """FormatDateTime(date[, namedformat]) (Vba.formatDateTime): named
    formats 1 = long date, 2 = short date, 3 = long time, 4 = short
    time, 0/default = general (short date + time).  US-English
    patterns, matching the reference's default-locale Java DateFormat."""
    pattern = {
        "0": "M/d/yyyy h:mm:ss a",
        "1": "EEEE, MMMM d, yyyy",
        "2": "M/d/yyyy",
        "3": "h:mm:ss a",
        "4": "HH:mm",
    }.get(fmt)
    if pattern is None:
        raise MdxError(
            f"FormatDateTime: named format must be a literal 0-4, got {fmt!r}"
        )
    if fmt == "0":
        # VBA general date omits the time portion when it is midnight
        # (the common DateSerial case) — Java DateFormat.getDateTime
        # renders it, VBA does not; match VBA
        return (
            f"(CASE WHEN cast(({d}) as timestamp) = "
            f"cast(cast(({d}) as date) as timestamp) "
            f"THEN date_format(({d}), 'M/d/yyyy') "
            f"ELSE date_format(({d}), '{pattern}') END)"
        )
    return f"date_format(({d}), '{pattern}')"


def _interval(iv: str | None, where: str) -> str:
    if iv is None:
        raise MdxError(
            f"{where}: the interval argument must be a string literal "
            f"('yyyy', 'q', 'm', 'y', 'd', 'w', 'ww', 'h', 'n', 's')"
        )
    if iv not in _VBA_DATEPART_FN:
        raise MdxError(f"{where}: unknown interval {iv!r}")
    return iv


def _datepart(iv, d):
    return f"{_VBA_DATEPART_FN[_interval(iv, 'DatePart')]}(({d}))"


def _dateadd(iv, n, d):
    unit = _VBA_DATE_UNIT[_interval(iv, "DateAdd")]
    return f"timestampadd({unit}, cast(({n}) as int), ({d}))"


def _datediff(iv, d1, d2):
    unit = _VBA_DATE_UNIT[_interval(iv, "DateDiff")]
    return f"timestampdiff({unit}, ({d1}), ({d2}))"


def _val(x):
    """VBA Val (query_test.rb:343-358 profit-margin formulas; Vba.val):
    numeric input passes through as DOUBLE; a string parses its leading
    numeric prefix with embedded whitespace stripped ('1 000.5x' →
    1000.5); anything else → 0.  The try_cast chain dispatches without
    knowing the arg's type: direct double cast first (no lossy string
    round-trip for numeric inputs), &H/&O radix literals next (reference
    Vba.val parses them; conv() does the base conversion, and nullif
    keeps a non-match falling through instead of conv('') = '0'
    short-circuiting the chain), decimal prefix parse after, 0 last."""
    stripped = f"regexp_replace(cast(({x}) as string), '\\\\s+', '')"
    prefix = (
        f"regexp_extract({stripped}, "
        f"'^[+-]?(\\\\d+\\\\.?\\\\d*|\\\\.\\\\d+)([eE][+-]?\\\\d+)?', 0)"
    )
    hexp = (
        f"try_cast(conv(nullif(regexp_extract({stripped}, "
        f"'^&[hH]([0-9a-fA-F]+)', 1), ''), 16, 10) as double)"
    )
    octp = (
        f"try_cast(conv(nullif(regexp_extract({stripped}, "
        f"'^&[oO]([0-7]+)', 1), ''), 8, 10) as double)"
    )
    return (
        f"coalesce(try_cast(({x}) as double), {hexp}, {octp}, "
        f"try_cast({prefix} as double), cast(0 as double))"
    )


#: lower-case VBA/Excel name → arity + builder; applied by
#: :func:`rewrite_calls` (MdxParser.translate_expression_text)
_VBA_EXCEL: dict[str, _Fn] = {
    # same arguments, another Spark name; DateSerial(y, m, d) → DATE
    # (mondrian_test.rb:526 CoalesceEmpty fallback)
    "sqr": _Fn(1, 1, _rename("sqrt")),
    "mid": _Fn(2, 3, _rename("substring")),
    "atn": _Fn(1, 1, _rename("atan")),
    "asc": _Fn(1, 1, _rename("ascii")),
    "ascb": _Fn(1, 1, _rename("ascii")),
    "ascw": _Fn(1, 1, _rename("ascii")),
    "chrb": _Fn(1, 1, _rename("chr")),
    "chrw": _Fn(1, 1, _rename("chr")),
    "cdbl": _Fn(1, 1, _rename("double")),
    "dateserial": _Fn(3, 3, _rename("make_date")),
    "strreverse": _Fn(1, 1, _rename("reverse")),
    "datevalue": _Fn(1, 1, _rename("to_date")),
    "cdate": _Fn(1, 1, _rename("to_timestamp")),
    "formatnumber": _Fn(2, 2, _rename("format_number")),
    "ucase": _Fn(1, 1, _rename("upper")),
    "lcase": _Fn(1, 1, _rename("lower")),
    "fact": _Fn(1, 1, _rename("factorial")),
    # Int FLOORS (Int(-8.4) = -9 — Vba.int_); Fix truncates toward zero;
    # CInt ROUNDS half-to-even (Vba.cInt); Sgn returns Integer where
    # Spark sign() returns double
    "int": _Fn(1, 1, _wrap("floor(", ")")),
    "fix": _Fn(1, 1, _wrap("cast((", ") as bigint)")),
    "cint": _Fn(1, 1, _wrap("int(bround(", "))")),
    "sgn": _Fn(1, 1, _wrap("cast(sign(", ") as int)")),
    "cbool": _Fn(1, 1, _wrap("cast((", ") as boolean)")),
    # VBA Byte is UNSIGNED 0..255 — a tinyint cast would wrap CByte(200)
    # to -56 under Spark's non-ANSI cast; smallint holds the whole Byte
    # range (values above 255 overflow in VBA; here they pass through,
    # documented deviation)
    "cbyte": _Fn(1, 1, _wrap("cast(bround(", ") as smallint)")),
    # CStr / CSng / CCur coercions (VBA Currency is a fixed-point
    # DECIMAL(19,4))
    "cstr": _Fn(1, 1, _wrap("cast((", ") as string)")),
    "csng": _Fn(1, 1, _wrap("cast((", ") as float)")),
    "ccur": _Fn(1, 1, _wrap("cast((", ") as decimal(19,4))")),
    # Hex/Oct round their argument first (Vba.hex/oct on Double)
    "hex": _Fn(1, 1, _wrap("hex(cast(bround(", ") as bigint))")),
    "oct": _Fn(1, 1, _wrap("conv(cast(bround(", ") as bigint), 10, 8)")),
    # Excel.sqrtPi(x) = sqrt(x * pi)
    "sqrtpi": _Fn(1, 1, _wrap("sqrt((", ") * pi())")),
    # MonthName(m) / WeekdayName(n) — English names, n=1=Sunday (the VBA
    # firstdayofweek default); 2000-01-02 is a Sunday anchor
    "monthname": _Fn(1, 1, _wrap(
        "date_format(make_date(2000, cast((", ") as int), 1), 'MMMM')"
    )),
    "weekdayname": _Fn(1, 1, _wrap(
        "date_format(date_add(DATE'2000-01-02', cast((",
        ") as int) - 1), 'EEEE')",
    )),
    # IsDate / IsNumeric: parseable as a timestamp / double (junk → false)
    "isdate": _Fn(1, 1, _wrap(
        "(try_cast(cast((", ") as string) as timestamp) is not null)"
    )),
    "isnumeric": _Fn(1, 1, _wrap(
        "(try_cast(cast((", ") as string) as double) is not null)"
    )),
    "isnull": _Fn(1, 1, _wrap("((", ") is null)")),
    # TimeValue: a time-of-day timestamp on the VBA zero date
    "timevalue": _Fn(1, 1, _wrap(
        "to_timestamp(concat('1899-12-30 ', cast((", ") as string)))"
    )),
    "str": _Fn(1, 1, _str),
    "timeserial": _Fn(3, 3, _timeserial),
    "weekday": _Fn(1, 2, _weekday),
    "partition": _Fn(4, 4, _partition),
    "choose": _Fn(2, None, _choose),
    "switch": _Fn(2, None, _switch),
    "instr": _Fn(3, 4, _instr),
    "instrrev": _Fn(2, 4, _instrrev),
    "strconv": _Fn(2, 2, _strconv),
    "strcomp": _Fn(2, 3, _strcomp),
    "string": _Fn(2, 2, _string),
    "mod": _Fn(2, 2, _mod),
    "atan2": _Fn(2, 2, _atan2),
    "sln": _Fn(3, 3, _sln),
    "syd": _Fn(4, 4, _syd),
    "pmt": _Fn(3, 5, _pmt),
    "fv": _Fn(3, 5, _fv),
    "pv": _Fn(3, 5, _pv),
    "nper": _Fn(3, 5, _nper),
    "ipmt": _Fn(4, 6, _ipmt),
    "ppmt": _Fn(4, 6, _ppmt),
    "rate": _Fn(3, 6, _rate),
    "ddb": _Fn(4, 5, _ddb),
    # FormatPercent / FormatCurrency: digits default 2, the common locale
    # default for the VBA -1 sentinel; currency is '$' + grouped number
    "formatpercent": _Fn(1, 2, lambda x, d="2": (
        f"concat(format_number(({x}) * 100, {d}), '%')"
    )),
    "formatcurrency": _Fn(1, 2, lambda x, d="2": (
        f"concat('$', format_number(({x}), {d}))"
    )),
    "formatdatetime": _Fn(1, 2, _format_datetime),
    # DatePart/DateAdd/DateDiff take the VBA interval grammar
    "datepart": _Fn(2, 2, _datepart, literal=True),
    "dateadd": _Fn(3, 3, _dateadd, literal=True),
    "datediff": _Fn(3, 3, _datediff, literal=True),
    "val": _Fn(1, 1, _val),
}


def _alias_self_ref(cond: str, alias) -> bool:
    """True when a FILTER condition references its set alias's .Current
    self-iteration (ALIAS.Current / [ALIAS].CurrentOrdinal …) — supported
    only in top-level axis FILTERs, so the nested/computed paths share
    this one detector."""
    return bool(alias) and bool(
        re.search(rf"(?i)\[?{re.escape(alias)}\]?\s*\.\s*CURRENT", cond)
    )


class MdxParser:
    """Recursive-descent parser lowering MDX text onto a Query builder."""

    def __init__(self, engine, mdx: str, parameters: dict | None = None):
        from .query import Query

        self.engine = engine
        self.cube = engine.cube
        self.src = mdx
        self.toks = _splice_strtomember(tokenize(mdx))
        self.i = 0
        self.q = Query(engine)
        #: WITH MEMBER [Measures] name (lower case) → its formula as
        #: written; Generate's string form translates an inlined formula
        #: again, and MDX, unlike the formula's SQL, lowers exactly once
        self._with_mdx: dict[str, str] = {}
        self.params = dict(parameters or {})
        self.defined_params: dict[str, object] = {}
        # schema-declared parameters: type + modifiability enforced on
        # user-supplied values (schema.rb:515-524;
        # test/schema_definition_test.rb:1298-1427)
        for pname, pval in self.params.items():
            decl = None
            lookup = getattr(engine, "parameter", None)
            if callable(lookup):
                decl = lookup(pname)
            if decl is not None:
                if not decl.modifiable:
                    raise MdxError(
                        f"parameter {pname!r} is not modifiable"
                    )
                try:
                    decl.check_value(pval)
                except TypeError as e:
                    raise MdxError(str(e)) from None
            self.defined_params.setdefault(pname, pval)
        for decl in getattr(engine, "parameters", ()):
            if decl.default_value is not None:
                self.defined_params.setdefault(decl.name, decl.default_value)
        #: WITH SET definitions including set-function ops — referenced by
        #: bare name on axes (query_test.rb:706-731 WITH SET clause)
        self.named_sets: dict[str, "_SetBuild"] = {}
        #: drill/toggle ops deferred to post-WHERE (computed set2 needs
        #: the slicer context when it evaluates — parse_axis)
        self._deferred_drills: list[tuple] = []
        #: per-member GENERATE ops deferred to post-WHERE:
        #: (axis index, generate_expr descriptor)
        self._deferred_generates: list[tuple] = []
        #: UNION/INTERSECT ops with computed arguments, deferred to
        #: post-WHERE: (axis index, setop_expr descriptor)
        self._deferred_setops: list[tuple] = []
        #: buffered non-Measures WITH MEMBER definitions, applied in
        #: dependency order once the WITH clause closes (forward
        #: references between aggregate members are legal in Mondrian)
        self._dim_member_defs: list[tuple[str, list[str], object]] = []
        self._rewrite_dimensions_calls()

    def _dimension_by_index_or_name(self, arg: int | str) -> str:
        """``Dimensions(n)`` / ``Dimensions('name')`` resolution
        (jar!mondrian/olap/fun/DimensionsNumericFunDef /
        DimensionsStringFunDef): index 0 is the Measures dimension, then
        the cube's dimensions in schema order — Mondrian's ordering."""
        dims = ["Measures"] + [d.name for d in self.cube.dimensions]
        if isinstance(arg, int):
            if not 0 <= arg < len(dims):
                raise MdxError(
                    f"Dimensions({arg}): cube {self.cube.name!r} has "
                    f"{len(dims)} dimensions (0..{len(dims) - 1})"
                )
            return dims[arg]
        for d in dims:
            if d.lower() == arg.lower():
                return d
        raise MdxError(f"Dimensions({arg!r}): no such dimension")

    def _rewrite_dimensions_calls(self) -> None:
        """Fold ``Dimensions(n)`` / ``Dimensions('name')`` calls in the
        token stream into the named dimension's bracketed identifier, so
        every downstream position (axis sets, suffix navigation,
        expressions) sees an ordinary dimension reference."""
        out: list[Tok] = []
        i = 0
        toks = self.toks
        while i < len(toks):
            t = toks[i]
            if (
                t.kind == "word"
                and t.text.lower() == "dimensions"
                and i + 3 < len(toks)
                and toks[i + 1].text == "("
                and toks[i + 3].text == ")"
                and not (out and out[-1].text == ".")
            ):
                argt = toks[i + 2]
                if argt.kind == "number":
                    if "." in argt.text:
                        raise MdxError(
                            f"Dimensions({argt.text}): index must be an integer"
                        )
                    name = self._dimension_by_index_or_name(int(argt.text))
                elif argt.kind == "string":
                    name = self._dimension_by_index_or_name(_unquote(argt.text))
                else:
                    raise MdxError(
                        "Dimensions() takes a numeric index or a quoted name"
                    )
                out.append(
                    Tok("bracket", "[" + name.replace("]", "]]") + "]", t.pos)
                )
                i += 4
                continue
            out.append(t)
            i += 1
        self.toks = out

    # -- token helpers -------------------------------------------------
    def peek(self, k: int = 0) -> Tok | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise MdxError("unexpected end of MDX")
        self.i += 1
        return t

    def _syntax_error(self, t: Tok, expected: str) -> MdxError:
        # the reference's parse-error root cause names line/column/token
        # (query_test.rb:766-772)
        line, col = _line_col(self.src, t.pos)
        return MdxError(
            f"expected {expected} at {t.pos}, got {t.text!r}",
            root_cause=(
                f"Syntax error at line {line}, column {col}, "
                f"token '{t.text}'"
            ),
        )

    def expect_word(self, *words: str) -> Tok:
        t = self.next()
        if t.kind != "word" or t.text.lower() not in words:
            raise self._syntax_error(t, "/".join(words).upper())
        return t

    def expect_op(self, op: str) -> Tok:
        t = self.next()
        if t.kind != "op" or t.text != op:
            raise self._syntax_error(t, repr(op))
        return t

    def at_word(self, *words: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "word" and t.text.lower() in words

    def at_op(self, op: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "op" and t.text == op

    def number_arg(self, fname: str, integer: bool = True) -> int | float:
        """A set function's literal count (TopCount's, Head's, Subset's
        start): one unsigned number token, without a fraction where
        ``integer``.  Anything else is an MdxError naming the token."""
        t = self.next()
        if t.kind == "number" and not (integer and "." in t.text):
            return int(t.text) if integer else float(t.text)
        kind = "integer" if integer else "number"
        raise self._syntax_error(t, f"a non-negative {kind} in {fname.upper()}")

    # -- grammar -------------------------------------------------------
    def parse_statement(self):
        """Top-level: SELECT query → Query, or DRILLTHROUGH statement →
        (Query, max_rows, return_fields) for the statement drill form
        (``DRILLTHROUGH MAXROWS n SELECT … RETURN …`` —
        lib/mondrian/olap/query.rb:243-249, connection.rb:95-100)."""
        if not self.at_word("drillthrough"):
            return self.parse(), None
        self.next()
        max_rows = None
        if self.at_word("maxrows"):
            self.next()
            max_rows = int(self.next().text)
        q = self.parse(stop_at_return=True)
        fields: list[tuple[str, str]] = []
        if self.at_word("return"):
            self.next()
            while True:
                fields.append(self.parse_return_field())
                if self.at_op(","):
                    self.next()
                    continue
                break
        if self.peek() is not None:
            t = self.peek()
            raise MdxError(f"unexpected trailing token {t.text!r} at {t.pos}")
        if not fields:
            # no RETURN: Mondrian's default drill columns are the raw fact
            # row fields (query.rb:243-249 drill without explicit RETURN)
            fields = [(c, c) for c in self.engine.fact.columns]
        return q, (max_rows, fields)

    def parse_return_field(self) -> tuple[str, str]:
        """RETURN item: [Dim].[Level] level key, [Measures].[X] → the
        measure's underlying fact expression, Name([Dim].[Level]) member
        display name, or Property([Dim].[Level], 'X') (result.rb:283-419
        field re-selection; query_test.rb:960-996)."""
        t = self.peek()
        if t is not None and t.kind == "word" and t.text.lower() in ("name", "property"):
            kind = self.next().text.lower()
            self.expect_op("(")
            segs = self.parse_identifier_segments()
            ident = ".".join(quote_segment(s) for s in segs)
            if kind == "name":
                self.expect_op(")")
                return ("name", f"Name({ident})")
            self.expect_op(",")
            pt = self.next()
            if pt.kind != "string":
                raise MdxError("Property() takes a quoted property name")
            self.expect_op(")")
            pname = _unquote(pt.text)
            return (pname.lower().replace(" ", "_"), f"Property({ident}, '{pname}')")
        segs = self.parse_identifier_segments()
        if segs[0].lower() == "measures" and len(segs) == 2:
            m = self.cube.measure(segs[1])
            return (m.out, m.expression)
        ident = ".".join(quote_segment(s) for s in segs)
        dim, idx = resolve_level(self.cube, ident)
        return (dim.levels[idx].out, ident)

    def parse(self, stop_at_return: bool = False):
        if self.at_word("with"):
            self.next()
            while self.at_word("member", "set"):
                if self.at_word("member"):
                    self.parse_with_member()
                else:
                    self.parse_with_set()
        # schema-declared NON-Measures calculated members (XML
        # ``CalculatedMember hierarchy=…`` — cube.dimension_calc_members,
        # schema_definition_test.rb:570-591): lower the formula exactly
        # like a WITH MEMBER on the dimension, lazily — only when this
        # statement actually names the member (resolution may collect
        # member lists, e.g. CurrentDateMember), and never shadowing a
        # same-named query-scoped definition
        defined = {
            tuple(s.lower() for s in segs)
            for _, segs, _ in self._dim_member_defs
        }
        with_measure_names = {c.name.lower() for c in self.q._with}
        for name, hier, formula in getattr(
            self.cube, "dimension_calc_members", ()
        ):
            segs = [hier.strip("[]"), name]
            if tuple(s.lower() for s in segs) in defined:
                continue
            # a query-scoped WITH MEMBER [Measures].[<same name>] is a
            # different object — never hijack it
            if name.lower() in with_measure_names:
                continue
            # activation is a bracketed-name substring heuristic (MDX
            # members are always written bracketed); a false positive is
            # harmless because schema-activated members are LENIENT — a
            # grid that doesn't group their dimension skips the union
            # silently (query._lenient_dim_members)
            if not re.search(
                r"\[\s*" + re.escape(name) + r"\s*\]", self.src or "",
                re.IGNORECASE,
            ):
                continue
            quoted = formula.replace("'", "''")
            inner = self._over(f"AS '{quoted}'")
            # inner shares this parser's _dim_member_defs list object, so
            # the buffered definition lands directly in self's queue
            inner.parse_dimension_member(segs)
            self.q._lenient_dim_members.add(name.lower())
        self._apply_dim_member_defs()
        self.expect_word("select")
        self.parse_axis()
        while self.at_op(","):
            self.next()
            self.parse_axis()
        self.expect_word("from")
        cube_tok = self.next()
        cube_name = _segment(cube_tok)
        if cube_name.lower() != self.cube.name.lower():
            raise MdxError(
                f"MDX object {quote_segment(cube_name)} not found: engine is bound "
                f"to cube {self.cube.name!r}"
            )
        if self.at_word("where"):
            self.next()
            self.parse_where()
        if self.peek() is not None and not (stop_at_return and self.at_word("return")):
            t = self.peek()
            raise MdxError(f"unexpected trailing token {t.text!r} at {t.pos}")
        # deferred DRILLDOWNMEMBER/TOGGLEDRILLSTATE: applied after WHERE so
        # a computed set2 evaluates in the slicer context (Mondrian
        # evaluates set arguments against the current context); concrete
        # lists defer too, preserving drill/toggle relative order
        from .query import SetExpr

        # UNION/INTERSECT with computed arguments first: they BUILD their
        # axis's set (the axis is empty until then)
        for axis_i, op in self._deferred_setops:
            self._apply_deferred_setop(axis_i, op)
            # serialize the ORIGINAL spelling, not the evaluated member
            # list — ops recorded before this point (incl. the empty-set
            # "1 = 0" filter) are covered by the override; trailing
            # drills still serialize on top
            raw_full = op[6] if len(op) > 6 else None
            if raw_full:
                self.q._set_axis_raw_override(axis_i, raw_full)
        # per-member GENERATE next (it REPLACES its axis's set; trailing
        # drills may reference the replaced members)
        for axis_i, op, trailing in self._deferred_generates:
            _, sb, all_flag, raw = op
            se = self._set_arg(sb, "GENERATE", raw)
            ax_sets = list(self.q._axes[axis_i].sets)
            refs = self.q.eval_set_expr_per_member(ax_sets, se)
            self.q.axis(axis_i)  # re-target the op's own axis
            if not refs:
                # an empty per-member union is an EMPTY axis (Mondrian
                # returns zero tuples): keep set2's grid schema via its
                # base identifiers, then filter to nothing
                self.q.generate(*sb.base, all=all_flag, _display=raw)
                self.q.filter("1 = 0")
                continue
            names = [
                format_name([r.dimension.name, *r.path]) for r in refs
            ]
            self.q.generate(*names, all=all_flag, _display=raw)
            # composition over the RESULT set (verdict item 6): the
            # trailing ops run as ordinary grid mods on the replaced
            # axis — same partitioned-window machinery, no extra pass
            for o in trailing:
                self._apply_axis_op(self.q, o)
        for op in self._deferred_drills:
            arg = op[1]
            if isinstance(arg, SetExpr):
                names = [
                    format_name([r.dimension.name, *r.path])
                    for r in self.q.eval_set_expr(arg)
                ]
            else:
                names = list(arg)
            if op[0] == "drilldown_member":
                for m in names:
                    self.q.drilldown(m)
            else:
                self.q.toggle_drill_state(*names)
        return self.q

    def parse_with_member(self):
        self.expect_word("member")
        name_segs = self.parse_identifier_segments()
        if name_segs[0].lower() != "measures":
            # calc member on a non-Measures dimension: the Aggregate-of-set
            # form (cube_test.rb:48-51; query.with_dimension_member)
            return self.parse_dimension_member(name_segs)
        if len(name_segs) != 2:
            raise MdxError(
                f"WITH MEMBER must define [Measures].[Name], got {format_name(name_segs)}"
            )
        self.expect_word("as")
        t = self.next()
        # the member being defined — a formula referencing itself must
        # raise the reference's infinite-loop error, not an opaque
        # unresolved-column failure via the forward-definition scan
        self._defining_measure = name_segs[1]
        try:
            if t.kind == "string":
                formula = _unquote(t.text)
                expr_sql = self.translate_expression_text(formula)
            else:
                # unquoted expression form: re-parse from this token
                self.i -= 1
                start = self.i
                expr_sql = self.parse_value_expression()
                formula = " ".join(x.text for x in self.toks[start : self.i])
        finally:
            self._defining_measure = None
        self._with_mdx[name_segs[1].lower()] = formula
        solve_order = 0
        format_string = None
        while self.at_op(","):
            save = self.i
            self.next()
            if self.at_word("solve_order"):
                self.next()
                self.expect_op("=")
                solve_order = int(self.next().text)
            elif self.at_word("format_string"):
                # `, FORMAT_STRING = '…'` member option (Mondrian WITH
                # MEMBER property list; mondrian_test.rb:161-166 formats a
                # date property with dd.mm.yyyy)
                self.next()
                self.expect_op("=")
                t = self.next()
                if t.kind != "string":
                    raise MdxError("FORMAT_STRING takes a quoted string")
                format_string = _unquote(t.text)
            else:
                self.i = save
                break
        self.q.with_member(name_segs[1]).as_(
            expr_sql, solve_order=solve_order, format_string=format_string
        )

    def parse_dimension_member(self, name_segs: list[str]):
        """``WITH MEMBER [Dim].[Name] AS '…'`` on a non-Measures dimension —
        ``Aggregate({m1, m2})`` (mondrian_test.rb:189-239) or an arithmetic
        formula over member cells (cube_test.rb:48-51, e.g.
        ``'[Customers].[All Customers] - [Customers].[USA]'``)."""
        self.expect_word("as")
        t = self.next()
        if t.kind != "string":
            raise MdxError("non-measure WITH MEMBER needs a quoted formula string")
        unstripped = _unquote(t.text)
        body = unstripped.strip()
        args = _call_args(body, "aggregate")
        members = None
        if args is not None and len(args) == 1:
            agg = self._over(unstripped, t.pos + 1)
            agg.i = 2  # past "Aggregate("
            members = agg._crossjoined_members()
        if members is not None:
            # members of the home dimension (the WITH MEMBER name's
            # dimension) define the synthetic member, the rest become
            # context constraints.  Buffered, not applied: WITH entries
            # may reference calc members defined LATER in the clause
            # (Mondrian resolves the whole WITH block lazily);
            # _apply_dim_member_defs orders by the dependency DAG after
            # the clause closes
            self._dim_member_defs.append(("aggregate", name_segs, members))
        elif re.fullmatch(
            rf"(?is){_ID_CHAIN}\s*\.\s*CurrentDateMember", body
        ):
            # a bare CurrentDateMember member expression as the formula —
            # the reference's schema calc-member idiom
            # (schema_definition_test.rb:580-591): alias of the resolved
            # member, i.e. Aggregate of the singleton set
            self._dim_member_defs.append(
                (
                    "aggregate", name_segs,
                    [self._over(body, t.pos + 1).parse_member_string()],
                )
            )
        else:
            # arithmetic formula over member cells
            self._dim_member_defs.append(("formula", name_segs, body))
        # swallow an optional SOLVE_ORDER clause for syntax parity
        save = self.i
        if self.at_op(","):
            self.next()
            if self.at_word("solve_order"):
                self.next()
                self.expect_op("=")
                self.next()
            else:
                self.i = save

    def _apply_dim_member_defs(self) -> None:
        """Apply buffered non-Measures WITH MEMBER definitions in
        dependency order: an Aggregate set may name another calc member
        defined LATER in the same WITH clause (Mondrian resolves the whole
        clause lazily — 'aggregate calculated aggregate members',
        mondrian_test.rb:231-239, works in either definition order).  A
        reference cycle raises the reference's infinite-loop error."""
        defs = self._dim_member_defs
        if not defs:
            return
        self._dim_member_defs = []

        def _dim_name(seg: str) -> str | None:
            try:
                return self.cube.dimension(seg).name.lower()
            except KeyError:
                return None

        keys = []  # (dim_lower | None, name_lower) per definition
        for _, name_segs, _ in defs:
            keys.append((_dim_name(name_segs[0]), name_segs[-1].lower()))

        def deps(i: int) -> list[int]:
            kind, name_segs, payload = defs[i]
            if kind != "aggregate":
                return []
            out = []
            for m in payload:
                segs = parse_identifier(m)
                ref_dim = _dim_name(segs[0]) if len(segs) >= 2 else None
                for j, (d, n) in enumerate(keys):
                    # j == i stays: a self-reference is a 1-node cycle
                    if n != segs[-1].lower():
                        continue
                    if len(segs) < 2 or ref_dim is None or ref_dim == d:
                        out.append(j)
            return out

        state = [0] * len(defs)  # 0 unvisited, 1 in-stack, 2 applied

        def apply(i: int) -> None:
            if state[i] == 2:
                return
            if state[i] == 1:
                _, name_segs, _ = defs[i]
                raise MdxError(
                    "Infinite loop while evaluating calculated member '"
                    + ".".join(quote_segment(s) for s in name_segs)
                    + "'"
                )
            state[i] = 1
            for j in deps(i):
                apply(j)
            kind, name_segs, payload = defs[i]
            if kind == "aggregate":
                self.q.with_dimension_member(
                    name_segs[-1], *payload, dimension=name_segs[0]
                )
            else:
                self.q.with_dimension_member_formula(name_segs[-1], payload)
            state[i] = 2

        for i in range(len(defs)):
            apply(i)

    def parse_with_set(self):
        """WITH SET [Name] AS '{…}' (query.rb:182-186 named sets)."""
        self.expect_word("set")
        name = _segment(self.next())
        self.expect_word("as")
        t = self.next()
        if t.kind == "string":
            sb = self._over(_unquote(t.text), t.pos + 1).parse_set()
        else:
            self.i -= 1
            sb = self.parse_set()
        self.named_sets[name.lower()] = sb
        if not sb.ops and not sb.set_ops:
            # plain member lists also register on the builder (axis splicing
            # + to_mdx); sets with ops live parser-side and expand on use
            self.q.with_set(name, *sb.base)

    #: descriptor → axis-level Query application (whole-set semantics)
    @staticmethod
    def _apply_axis_op(q, d):
        k = d[0]
        if k == "filter":
            q.filter(d[1], as_alias=d[2] if len(d) > 2 else None)
        elif k == "order":
            q.order(d[1], d[2])
        elif k == "topbottom":
            _, side, how, n, expr = d
            getattr(q, f"{side}_{how}")(n, expr)
        elif k == "slice":
            _, start, count, from_end = d
            if from_end:
                q.tail(count)
            else:
                q.subset(start, count)
        elif k == "except":
            from .query import SetExpr

            q.except_(d[1]) if isinstance(d[1], SetExpr) else q.except_(*d[1])
        elif k == "exists":
            from .query import SetExpr

            q.exists_(d[1]) if isinstance(d[1], SetExpr) else q.exists_(*d[1])
        elif k == "nonempty":
            q.nonempty()
        elif k == "distinct":
            q.distinct()
        elif k == "hierarchize":
            q.hierarchize(d[1])
        elif k == "generate":
            q.generate(*d[1], all=d[2])
        elif k == "generate_expr":
            # GENERATE(set1, <computed set2>[, ALL]): set2 ignores
            # CurrentMember (a computed set cannot bind it in this subset),
            # so the result is set2 evaluated — replace the axis set, then
            # run set2's op chain as the axis's own (GenerateFunDef;
            # query.rb:97-108)
            _, sb, all_flag, raw = d
            if any(current_members(q.cube, b) for b in sb.base):
                raise MdxError(
                    "GENERATE: CurrentMember inside a computed second set "
                    "is not supported in this subset"
                )
            # Mondrian evaluates set2 once per set1 member with that
            # member pushed on the context (GenerateFunDef).  A
            # measure-referencing op (FILTER/TOPCOUNT/ORDER condition) is
            # therefore context-dependent — the once-evaluated lowering
            # is only faithful when set1 and set2 share ONE hierarchy
            # (the tuple's set2 member then REPLACES set1's member in
            # context, making every per-member evaluation identical).
            # Cross-dimension + data-dependent raises instead of
            # silently returning the global evaluation.
            op_exprs = [_op_expr(op) for op in sb.ops] + [
                _op_expr(op) for se in sb.set_ops for op in se.ops
            ]
            if any(e and q._measures_in(e) for e in op_exprs):
                set2_refs = [q._resolve(b) for b in sb.base]
                set1_dims = {s.dimension.name for s in q._axis().sets}
                set2_dims = {
                    r.dimension.name
                    for r in set2_refs
                    if not isinstance(r, MeasureRef)
                }
                if not set1_dims <= set2_dims:
                    raise MdxError(
                        "GENERATE: a measure-dependent computed second set "
                        "is only supported when both sets share one "
                        "hierarchy (Mondrian evaluates set2 per set1 "
                        "member; cross-dimension that differs from the "
                        "once-evaluated lowering)"
                    )
            # the axis set IS set2 now: its op chain runs as the axis's own
            q.generate(*sb.base, all=all_flag, _display=raw)
            for se in sb.set_ops:
                q.nested_set(se)
            for op in sb.ops:
                MdxParser._apply_axis_op(q, op)
        elif k == "range":
            q.member_range(d[1], d[2])
        elif k == "xtd":
            q.xtd(d[1], d[2])
        elif k == "ptd":
            q.periods_to_date(d[1], d[2])
        elif k == "visual_totals":
            q.visual_totals(d[1])
        elif k in ("drilldown_member", "toggle_drill"):
            if not isinstance(d[1], (list, tuple)):
                raise MdxError(
                    f"{k.upper()}: a computed member set is only supported "
                    "at the top level of an axis in this subset"
                )
            if k == "drilldown_member":
                for m in d[1]:
                    q.drilldown(m)
            else:
                q.toggle_drill_state(*d[1])
        elif k == "drilldown_level":
            q.drilldown_level()
        elif k == "drilldown_level_top":
            q.drilldown_level_top(d[1], d[2], side=d[3])
        else:  # pragma: no cover - parser and applier move together
            raise MdxError(f"unknown set operation {k!r}")

    def parse_axis(self):
        nonempty = False
        if self.at_word("non"):
            self.next()
            self.expect_word("empty")
            nonempty = True
        members = self.parse_set()
        self.expect_word("on")
        t = self.next()
        if t.kind == "word" and t.text.lower() in _AXIS_NAMES:
            axis_i = _AXIS_NAMES[t.text.lower()]
        elif t.kind == "word" and t.text.lower() == "axis":
            self.expect_op("(")
            axis_i = int(self.next().text)
            self.expect_op(")")
        else:
            raise MdxError(f"bad axis name {t.text!r} at {t.pos}")
        self.q.axis(axis_i, *members.base)
        for se in members.set_ops:
            self.q.nested_set(se)
        skip: set[int] = set()
        for i, op in enumerate(members.ops):
            if i in skip:
                continue
            if op[0] in ("drilldown_member", "toggle_drill"):
                # drills mutate the query's GLOBAL drill list (not axis
                # mods), so their application defers until after WHERE —
                # a computed set2 (SetExpr) must see the slicer context
                # when it evaluates; deferring all of them preserves the
                # drill/toggle relative order (toggle cancels prior drills)
                self._deferred_drills.append(op)
            elif op[0] == "generate_expr" and self._generate_per_member(
                op[1]
            ):
                # cross-dimension + measure-dependent set2: Mondrian
                # evaluates set2 PER set1 member — deferred past WHERE
                # (slicer context), lowered as one partitioned
                # sub-aggregate (Query.eval_set_expr_per_member).  Later
                # axis ops would capture the pre-replacement set, so only
                # trailing drills may follow; and EARLIER ops restricting
                # set1 (FILTER/TOPCOUNT/…) were applied as grid mods the
                # deferred context evaluation cannot see — the iteration
                # would cover unrestricted members, so that shape raises.
                if i > 0 or members.set_ops:
                    raise MdxError(
                        "GENERATE with a per-member computed second set "
                        "over a RESTRICTED first set is not supported in "
                        "this subset (the context evaluation iterates the "
                        "plain member list)"
                    )
                # trailing ops over the RESULT set compose (round-12
                # verdict item 6 — GenerateFunDef composes freely):
                # ORDER/TOPCOUNT-family/HEAD/TAIL/SUBSET/FILTER/DISTINCT/
                # HIERARCHIZE defer WITH the generate and apply to the
                # replaced axis set after the per-member evaluation;
                # drills keep their own deferral (relative order intact)
                composable = (
                    "order", "topbottom", "slice", "filter",
                    "distinct", "hierarchize",
                )
                trailing: list[tuple] = []
                for j in range(i + 1, len(members.ops)):
                    o = members.ops[j]
                    if o[0] in ("drilldown_member", "toggle_drill"):
                        continue
                    if o[0] in composable:
                        trailing.append(o)
                        skip.add(j)
                    else:
                        raise MdxError(
                            "after a per-member computed GENERATE only "
                            "ORDER/TOPCOUNT-family/HEAD/TAIL/SUBSET/"
                            "FILTER/DISTINCT/HIERARCHIZE and drills may "
                            "follow in this subset"
                        )
                self._deferred_generates.append((axis_i, op, trailing))
            elif op[0] == "setop_expr":
                # UNION/INTERSECT with a computed argument: evaluated
                # post-WHERE (slicer context); it IS the axis set, so
                # only trailing drills may follow
                if any(
                    o[0] not in ("drilldown_member", "toggle_drill")
                    for o in members.ops[i + 1 :]
                ):
                    raise MdxError(
                        f"{op[1].upper()} with a computed argument must be "
                        "the last set operation on its axis in this subset "
                        "(drills may follow)"
                    )
                self._deferred_setops.append((axis_i, op))
            else:
                self._apply_axis_op(self.q, op)
        if nonempty:
            self.q.nonempty()

    def parse_where(self):
        if (
            self.at_word("strtotuple")
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            # StrToTuple("(…)") in the slicer (jar!mondrian/olap/fun/
            # StrToTupleFunDef; completes the StrToSet/SetToStr/TupleToStr
            # string-bridge family): splice the string's tokens in and let
            # the ordinary tuple parsing below consume them
            self.next()
            self.expect_op("(")
            st = self.next()
            if st.kind != "string":
                raise MdxError("StrToTuple takes a quoted tuple string")
            self.expect_op(")")
            self.toks = (
                self.toks[: self.i]
                + _shift_toks(tokenize(_unquote(st.text)), st.pos + 1)
                + self.toks[self.i :]
            )

        def one() -> str:
            m, op = self._braced_member_nav(self.parse_member_string())
            if op is not None:
                raise MdxError("Item(i) is not supported in WHERE in this subset")
            return m

        members: list[str] = []
        if self.at_op("(") or self.at_op("{"):
            close = ")" if self.at_op("(") else "}"
            self.next()
            members.append(one())
            while self.at_op(","):
                self.next()
                members.append(one())
            self.expect_op(close)
        else:
            members.append(one())
        self.q.where(*members)

    # -- sets ----------------------------------------------------------
    def _parse_braced_member(self):
        """One element of a ``{…}`` literal; supports a trailing
        ``.Item(i)`` (query_test.rb ItemSet shape) and ``.Parent`` (a pure
        path truncation).  Other family-navigation suffixes need a member
        lookup and are only supported as bare set expressions — reject them
        loudly instead of resolving 'firstchild' as a literal key."""
        m = self.parse_member_string()
        return self._braced_member_nav(m)

    def _braced_member_nav(self, m: str):
        low = m.lower()
        if low.endswith(".[item]") and self.at_op("("):
            self.next()
            idx = int(self.next().text)
            self.expect_op(")")
            return m.rsplit(".", 1)[0], ("slice", idx, 1, False)
        if low.endswith(".parent"):
            return _parent_of(m), None
        for suf in (".firstchild", ".lastchild", ".firstsibling",
                    ".lastsibling", ".siblings"):
            if low.endswith(suf):
                raise MdxError(
                    f"{m!r}: {suf[1:]} is only supported as a bare set "
                    "expression (not inside braces/tuples) in this subset"
                )
        return m, None

    def parse_set(self) -> "_SetBuild":
        if self.at_op("{"):
            self.next()
            members, ops = [], []
            while True:
                m, op = self._parse_braced_member()
                members.append(m)
                if op is not None:
                    ops.append(op)
                if self.at_op(","):
                    self.next()
                    continue
                break
            self.expect_op("}")
            if ops and len(members) > 1:
                raise MdxError(
                    "Item(i) inside a multi-element set literal is not "
                    "supported in this subset"
                )
            return _SetBuild(base=members, ops=ops)
        t = self.peek()
        if (
            t is not None
            and t.kind in ("word", "bracket")
            and _segment(t).lower() in self.named_sets
        ):
            # named-set reference: expand to a copy of its definition
            self.next()
            sb0 = self.named_sets[_segment(t).lower()]
            return _SetBuild(
                base=list(sb0.base), ops=list(sb0.ops), set_ops=list(sb0.set_ops),
                alias=_segment(t),
            )
        if t is not None and t.kind == "word":
            from .udf import set_function

            fn = set_function(t.text)
            nxt = self.peek(1)
            if fn is not None and nxt is not None and nxt.text == "(":
                # registered set-valued UDF: MySet() — evaluated against
                # the engine at parse/plan time (call_with_evaluator)
                self.next()
                self.expect_op("(")
                self.expect_op(")")
                members = fn(self.engine)
                return _SetBuild(base=list(members))
        if (
            t is not None
            and t.kind == "word"
            and t.text.lower() in ("ancestor", "descendants")
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            # ANCESTOR(member, level) → path truncated at the level's depth
            # (AncestorFunDef); DESCENDANTS(member, level) → the level's
            # members under the path (DescendantsFunDef) — both pure path
            # arithmetic, planned as ordinary member sets
            fn = self.next().text.lower()
            self.expect_op("(")
            m1 = self.parse_member_string()
            ref = resolve(self.cube, m1)
            if not getattr(ref, "path", None):
                raise MdxError(
                    f"{fn.upper()} needs a full member path as its first argument"
                )
            max_depth = len(ref.dimension.levels) - 1
            if fn == "descendants" and self.at_op(")"):
                # Descendants(m) — the member and ALL its descendants
                # (DescendantsFunDef no-level default, SELF_BEFORE_AFTER
                # from the member's own level)
                self.next()
                return _SetBuild(
                    base=self._descendant_chains(
                        m1, ref.depth, ref.depth, max_depth
                    )
                )
            self.expect_op(",")
            nt = self.peek()
            if (
                fn == "descendants"
                and nt is not None
                and nt.kind == "number"
            ):
                # Descendants(m, n[, flag]) — the DISTANCE form
                # (DescendantsFunDef numeric second argument): the level
                # n below the member's own
                ntext = self.next().text
                try:
                    n_down = int(ntext)
                except ValueError:
                    raise MdxError(
                        f"DESCENDANTS distance must be an integer, got "
                        f"{ntext!r}"
                    ) from None
                if n_down < 0:
                    raise MdxError("DESCENDANTS distance must be >= 0")
                tgt = ref.depth + n_down
                if tgt > max_depth:
                    raise MdxError(
                        f"DESCENDANTS distance {n_down} goes below the "
                        f"bottom level of {ref.dimension.name}"
                    )
                segs = None
                lvl_idx_override = tgt
            else:
                segs = self.parse_identifier_segments()
                lvl_idx_override = None
            flag = "self"
            if fn == "descendants" and self.at_op(","):
                # third flag argument (jar!mondrian/olap/fun/
                # DescendantsFunDef): which levels relative to the target
                # level contribute members
                self.next()
                flag = self.expect_word(
                    "self", "self_and_before", "self_and_after", "before",
                    "after", "self_before_after", "leaves",
                ).text.lower()
            self.expect_op(")")
            if lvl_idx_override is not None:
                lvl_idx = lvl_idx_override
            else:
                level_ident = ".".join(quote_segment(s) for s in segs)
                dim, lvl_idx = resolve_level(self.cube, level_ident)
                if dim.name != ref.dimension.name:
                    raise MdxError(
                        f"{fn.upper()}: member and level dimensions differ"
                    )
            if fn == "ancestor":
                if lvl_idx > ref.depth:
                    raise MdxError("ANCESTOR level is below the member's own level")
                head_segs = [quote_segment(ref.dimension.name)] + [
                    quote_segment(str(k)) for k in ref.path[: lvl_idx + 1]
                ]
                return _SetBuild(base=[".".join(head_segs)], member=True)
            if lvl_idx < ref.depth:
                raise MdxError("DESCENDANTS level must not be above the member's level")
            # flags select which level span contributes (DescendantsFunDef;
            # non-ragged hierarchies here, so LEAVES = the bottom level —
            # every leaf sits at the deepest level by construction)
            if flag == "self":
                span = (lvl_idx, lvl_idx)
            elif flag == "self_and_before":
                span = (ref.depth, lvl_idx)
            elif flag == "self_and_after":
                span = (lvl_idx, max_depth)
            elif flag == "before":
                if lvl_idx == ref.depth:
                    raise MdxError(
                        "DESCENDANTS BEFORE of the member's own level is "
                        "the empty set"
                    )
                span = (ref.depth, lvl_idx - 1)
            elif flag == "after":
                if lvl_idx >= max_depth:
                    raise MdxError(
                        "DESCENDANTS AFTER the bottom level is the empty set"
                    )
                span = (lvl_idx + 1, max_depth)
            elif flag == "self_before_after":
                span = (ref.depth, max_depth)
            else:  # leaves
                # leaf members of the bounded walk (DescendantsFunDef
                # LEAVES): members AT the named level plus shallower
                # descendants with NO visible descendant inside the
                # bound.  In a RAGGED hierarchy (hide_member_if rules on
                # a level inside the walk — schema.rb:222-230) shallow
                # leaves are real members at MIXED depths; in a
                # non-ragged hierarchy every member above the bottom has
                # children, so LEAVES above the bottom would be a
                # silently-empty axis — still a raise there
                ragged_below = any(
                    lv.hide_member_if
                    for lv in ref.dimension.levels[
                        ref.depth + 1 : lvl_idx + 1
                    ]
                )
                if ragged_below:
                    return _SetBuild(
                        base=self._ragged_leaf_chains(ref, m1, lvl_idx)
                    )
                if lvl_idx < max_depth:
                    raise MdxError(
                        "DESCENDANTS LEAVES above the bottom level selects "
                        "no members in a non-ragged hierarchy"
                    )
                span = (max_depth, max_depth)
            return _SetBuild(
                base=self._descendant_chains(m1, ref.depth, *span)
            )
        if (
            t is not None
            and t.kind == "word"
            and t.text.lower() == "cousin"
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            # COUSIN(member, ancestor) (jar!mondrian/olap/fun/CousinFunDef):
            # the member at the same relative position under the new
            # ancestor.  The source member's sibling position resolves at
            # validate time (one bounded sibling-list lookup — exactly what
            # Mondrian's validator does), then the result plans as
            # ancestor.Children sliced at that position.
            self.next()
            self.expect_op("(")
            m1 = self.parse_member_string()
            self.expect_op(",")
            m2 = self.parse_member_string()
            self.expect_op(")")
            ref = resolve(self.cube, m1)
            if not getattr(ref, "path", None):
                raise MdxError("COUSIN needs a full member path as its first argument")
            # positional lookups, NOT sibling-list collects: the source's
            # ordinal position is a count aggregate, the target child a
            # window row_number slice — one scalar each to the driver,
            # scale-proof on high-cardinality flat hierarchies
            try:
                idx = self.engine.member_position(
                    ref.dimension.name, ref.depth, ref.path
                )
            except KeyError:
                raise MdxError(
                    f"COUSIN: member {m1!r} not found among its siblings"
                ) from None
            # index the TARGET's children in the same (ordinal) order —
            # a key-ordered slice would disagree with hierarchy order
            # whenever the level declares an ordinal expression
            ref2 = resolve(self.cube, m2)
            if not getattr(ref2, "path", None):
                raise MdxError("COUSIN needs a member as its second argument")
            if ref2.depth + 1 >= len(ref2.dimension.levels):
                raise MdxError(
                    f"COUSIN: ancestor {m2!r} is at the leaf level "
                    f"{quote_segment(ref2.dimension.levels[ref2.depth].name)} "
                    "and has no child level"
                )
            kid_key = self.engine.member_at_position(
                ref2.dimension.name, ref2.depth + 1, ref2.path, idx
            )
            if kid_key is None:
                raise MdxError(
                    f"COUSIN: {m2!r} has no child at sibling position {idx}"
                )
            return _SetBuild(base=[f"{m2}.{quote_segment(str(kid_key))}"], member=True)
        if (
            t is not None
            and t.kind == "word"
            and t.text.lower() == "addcalculatedmembers"
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            # AddCalculatedMembers(set) (jar!mondrian/olap/fun/
            # AddCalculatedMembersFunDef): include the hierarchy's schema
            # calculated members — i.e. rewrite each X.Members element to
            # X.AllMembers (the Members/AllMembers split is exactly
            # with-vs-without calculated members)
            self.next()
            self.expect_op("(")
            sb = self.parse_set()
            self.expect_op(")")
            if sb.ops or sb.set_ops or not all(
                re.search(r"(?i)\.members$", b) for b in sb.base
            ):
                # a computed inner set (Head(...) etc.) or an enumerated
                # member list would need true post-expansion semantics —
                # rewriting before the ops would add calc members to the
                # WRONG stage, so reject loudly instead of being wrong
                raise MdxError(
                    "AddCalculatedMembers supports Level.Members set "
                    "arguments in this subset"
                )
            sb.base = [
                re.sub(r"(?i)\.members$", ".AllMembers", b) for b in sb.base
            ]
            return sb
        if t is not None and t.kind == "word" and t.text.lower() == "strtoset":
            # StrToSet("…") — runtime set construction from a string
            # (jar!mondrian/olap/fun/StrToSetFunDef; SURVEY.md §2.6)
            self.next()
            self.expect_op("(")
            st = self.next()
            if st.kind != "string":
                raise MdxError("StrToSet takes a quoted set string")
            self.expect_op(")")
            return self._over(_unquote(st.text), st.pos + 1).parse_set()
        if t is not None and t.kind == "word" and t.text.lower() in _SET_FUNCTIONS:
            sb = self.parse_set_function()
            # .Item(i) on a set expression → single-element slice
            # (jar!mondrian/olap/fun/SetItemFunDef)
            while self.at_op("."):
                save = self.i
                self.next()
                if self.at_word("item"):
                    self.next()
                    self.expect_op("(")
                    idx = int(self.next().text)
                    self.expect_op(")")
                    sb.ops.append(("slice", idx, 1, False))
                else:
                    self.i = save
                    break
            return sb
        first = self.parse_member_string()
        if self.at_op(":"):
            # member range a:b (jar!...RangeFunDef)
            self.next()
            second = self.parse_member_string()
            return _SetBuild(base=[], ops=[("range", first, second)])
        low = first.lower()
        # member family navigation (jar!mondrian/olap/fun/
        # FirstChild/LastChild/Parent/FirstSibling/LastSibling/SiblingsFunDef).
        # First/last members resolve at validate time through the engine's
        # ordinal-ordered single-row lookup (edge_member) — hierarchy order
        # is the level's ORDINAL order, which key-sorted slices would get
        # wrong whenever a level declares an ordinal expression.
        if low.endswith(".firstchild") or low.endswith(".lastchild"):
            return _SetBuild(base=[self._edge_of(first, 1, low.endswith(".lastchild"))], member=True)
        if low.endswith(".parent"):
            return _SetBuild(base=[_parent_of(first)], member=True)
        if low.endswith(".firstsibling") or low.endswith(".lastsibling"):
            return _SetBuild(base=[self._edge_of(first, 2, low.endswith(".lastsibling"))], member=True)
        if low.endswith(".siblings"):
            if _on_current([first]):  # no fixed parent to list
                raise MdxError(f"{first!r}: Siblings of a CurrentMember is not supported in this subset")
            segs = _strip_segments(first, 2)  # keyword + own key
            base = format_name(segs) if len(segs) > 1 else quote_segment(segs[0])
            return _SetBuild(base=[f"{base}.Children"])
        if low.endswith(".[defaultmember]"):
            # [Dim].DefaultMember (jar!mondrian/olap/fun/
            # DimensionDefaultMemberFunDef): a hierarchy WITH an All
            # member defaults to it (the grand-total member); only
            # all-less hierarchies default to the first member of the top
            # level in hierarchy (ordinal) order
            segs = _strip_segments(first, 1)
            try:
                dim = self.cube.dimension(segs[0])
            except KeyError as e:
                raise MdxError(str(e)) from None
            if dim.has_all:
                return _SetBuild(base=[f"{format_name([dim.name])}.DefaultMember"], member=True)
            try:
                key = self.engine.edge_member(segs[0], 0, ())
            except KeyError as e:
                raise MdxError(str(e)) from None
            return _SetBuild(base=[format_name([segs[0], str(key)])], member=True)
        if low.endswith(".[item]") and self.at_op("("):
            # member-set .Item(i) (SetItemFunDef on an enumerated set)
            self.next()
            idx = int(self.next().text)
            self.expect_op(")")
            head = first.rsplit(".", 1)[0]
            return _SetBuild(base=[head], ops=[("slice", idx, 1, False)], member=True)
        # a member chain is a set only when it ends in a bare
        # Members/AllMembers/Children
        seg, quoted = parse_identifier_tagged(first)[-1]
        return _SetBuild(base=[first], member=quoted or seg.lower() not in _NAV_SUFFIXES)

    @staticmethod
    def _plain_members(sb: "_SetBuild", where: str) -> list[str]:
        """Set arguments that must be PLAIN member lists (UNION/INTERSECT
        canonicalize written identities at parse time; Aggregate and
        Generate inside a formula read members) — silently dropping a
        nested set function's operations would return a wrong member set
        with no error."""
        if sb.ops or sb.set_ops:
            raise MdxError(
                f"set functions are not supported as a set argument of "
                f"{where} in this subset (got a computed set)"
            )
        return list(sb.base)

    def _over(self, text: str, base: int = 0) -> "MdxParser":
        """A parser over the tokens of ``text`` — a quoted formula or set
        string, or a set argument inside a formula — sharing this
        parser's state (query, named sets, parameters).  ``base`` is the
        offset of ``text`` in the statement, so that syntax errors point
        at the real location."""
        inner = MdxParser.__new__(MdxParser)
        inner.__dict__.update(self.__dict__)
        inner.toks = _splice_strtomember(_shift_toks(tokenize(text), base))
        inner.i = 0
        return inner

    def _set_at_cursor(self) -> "_SetBuild | None":
        """The set at the cursor, read by :meth:`parse_set` as it would
        be on an axis; None when the text there is not a set: the set
        grammar cannot read it, or it reads one member
        (:attr:`_SetBuild.member`)."""
        try:
            sb = self.parse_set()
        except MdxError:
            return None
        return None if sb.member else sb

    def _formula_set(self, text: str) -> "_SetBuild | None":
        """``text``, a set written inside a formula, read by
        :meth:`_set_at_cursor`; None when ``text`` is not one whole set or
        its members depend on the current member (:func:`_on_current`) —
        a formula reads a set's members once, at parse time."""
        try:
            p = self._over(text)
        except MdxError:
            return None
        sb = p._set_at_cursor()
        if sb is None or p.peek() is not None or _on_current(sb.base):
            return None
        return sb

    def _crossjoined_members(self) -> "list[str] | None":
        """Aggregate's set argument at the cursor: one set, or several
        joined by ``*`` (the crossjoin-set form, mondrian_test.rb:
        205-212), each read by :meth:`parse_set` → the members of all of
        them; None when the argument does not start with a set.  The
        argument must end there: ``+`` (union) and a bare juxtaposition
        are rejected, not silently crossjoined."""
        sb = self._set_at_cursor()
        if sb is None:
            return None
        members = self._plain_members(sb, "Aggregate")
        while self.at_op("*"):
            self.next()
            members += self._plain_members(self.parse_set(), "Aggregate")
        if self.peek() is not None and not self.at_op(")"):
            raise MdxError(
                "Aggregate sets combine only with * (crossjoin) in this "
                "subset"
            )
        if _on_current(members):
            raise MdxError(
                "Aggregate: a set that depends on the current member is "
                "not supported in this subset"
            )
        return members

    @staticmethod
    def _descendant_chains(
        m1: str, own_depth: int, lo: int, hi: int
    ) -> list[str]:
        """Descendant sets of ``m1`` for every level in ``lo..hi``
        (inclusive), as ``.Children``-chain identifiers — the mixed-depth
        axis machinery (query._split_mixed_depth) unions levels with NULL
        padding in the deeper columns, the same grouping-sets shape
        Mondrian's Descendants flags produce."""
        return [
            m1 + ".Children" * (d - own_depth) for d in range(lo, hi + 1)
        ]

    def _ragged_leaf_chains(
        self, ref, m1: str, lvl_idx: int
    ) -> list[str]:
        """Leaf members of a RAGGED bounded walk
        (jar!mondrian/olap/fun/DescendantsFunDef LEAVES over a
        hide_member_if hierarchy): the target level passes through as a
        ``.Children`` chain (grid visibility applies there), and each
        SHALLOWER depth contributes its visible members that have no
        visible descendant inside the bound — one dimension-sized
        distinct per depth, resolved at validate time like COUSIN's
        sibling lookup (exactly the bounded member resolution Mondrian's
        validator performs; never fact-sized for a snowflake dim).  The
        mixed-depth identifiers then union on the axis through
        query._split_mixed_depth's NULL-padded grouping sets."""
        from pyspark.sql import functions as F

        dim = ref.dimension
        levels = dim.levels
        df = (
            self.engine.fact
            if dim.degenerate
            else self.engine.dims[dim.name].member_df
        )
        from .plan import _path_predicate

        pred = _path_predicate(ref)
        if pred is not None:
            df = df.filter(pred)

        from .star import hide_member_predicate

        def vis(i: int):
            # THE shared visibility rule (star.hide_member_predicate) —
            # a level without a hide rule never hides members (a NULL
            # key is Mondrian's #null member, a real child), so only
            # hide-ruled levels can make a shallow ancestor a leaf
            p = hide_member_predicate(levels, i)
            return F.lit(True) if p is None else p

        chains = [m1 + ".Children" * (lvl_idx - ref.depth)]
        for d in range(ref.depth, lvl_idx):
            deeper = None
            for e in range(d + 1, lvl_idx + 1):
                ve = vis(e)
                deeper = ve if deeper is None else (deeper | ve)
            outs = [lv.out for lv in levels[: d + 1]]
            leaf_rows = (
                df.filter(vis(d))
                .groupBy(*outs)
                .agg(
                    F.max(F.when(deeper, 1).otherwise(0)).alias("__kid")
                )
                .filter(F.col("__kid") == 0)
                .select(*outs)
                .collect()
            )
            for row in sorted(
                leaf_rows, key=lambda r: tuple(str(r[o]) for o in outs)
            ):
                if any(row[o] is None for o in outs):
                    # a NULL key has no spellable member identifier; the
                    # target-level chain still covers NULL-keyed rows
                    continue
                segs = [quote_segment(dim.name)] + [
                    quote_segment(str(row[o])) for o in outs
                ]
                chains.append(".".join(segs))
        return chains

    def _generate_per_member(self, sb: "_SetBuild") -> bool:
        """True when GENERATE's computed second set needs PER-MEMBER
        evaluation: its ops reference measures AND the current axis set
        (set1) spans a hierarchy set2 does not — the set2 member then
        does NOT replace set1's in context, so a once-evaluated lowering
        would diverge (GenerateFunDef pushes each set1 member)."""
        exprs = [_op_expr(op) for op in sb.ops]
        if not any(e and self.q._measures_in(e) for e in exprs):
            return False
        if sb.set_ops:
            return False  # nested-crossjoin args raise in _set_arg later
        try:
            set2_refs = [self.q._resolve(b) for b in sb.base]
        except Exception:
            return False  # resolution errors surface on the normal path
        set2_dims = {
            r.dimension.name
            for r in set2_refs
            if not isinstance(r, MeasureRef)
        }
        set1_dims = {s.dimension.name for s in self.q._axis().sets}
        return not set1_dims <= set2_dims

    def _apply_deferred_setop(self, axis_i: int, op: tuple) -> None:
        """UNION/INTERSECT with a computed argument (UnionFunDef,
        IntersectFunDef over arbitrary sets): each computed side
        evaluates in the slicer context (eval_set_expr — bounded member
        collect); UNION splices both sides onto the axis (same-dimension
        sets union with IN semantics, the grid dedups); INTERSECT keeps
        left-side members whose (dimension, level, path) identity
        appears on the right — a whole-level side contains any
        same-level member of its dimension.

        Serialization: evaluated members splice onto the axis as concrete
        identifiers, but the caller records the call's verbatim source as
        the axis's ``raw_override`` — ``to_mdx`` emits the ORIGINAL
        UNION/INTERSECT spelling, and a round-trip re-parses and
        re-evaluates it (round-12 verdict item 5)."""
        _, fname, left_sb, right_sb, all_flag, raw_r = op[:6]

        def side(sb, raw):
            """→ (names, refs): written identifiers + resolved refs."""
            if not sb.ops and not sb.set_ops:
                refs = [self.q._resolve(m) for m in sb.base]
                if any(isinstance(r, MeasureRef) for r in refs):
                    raise MdxError(
                        f"{fname.upper()} takes dimension member sets"
                    )
                return list(sb.base), refs
            se = self._set_arg(sb, fname.upper(), raw)
            refs = self.q.eval_set_expr(se)
            return (
                [format_name([r.dimension.name, *r.path]) for r in refs],
                refs,
            )

        left_names, left_refs = side(left_sb, None)
        right_names, right_refs = side(right_sb, raw_r)
        if fname == "union":
            names = left_names + right_names
            if not names:
                # both computed sides evaluated empty: empty axis via the
                # base identifiers' schema + a false filter
                seeds = list(left_sb.base) + list(right_sb.base)
                self.q.axis(axis_i, *seeds)
                self.q.filter("1 = 0")
                return
            self.q.axis(axis_i, *names)
            return

        def key(r):
            return (r.dimension.name, r.depth, tuple(map(str, r.path)))

        # the identity comparison needs ENUMERABLE refs: concrete members
        # compare by (dimension, level, path); a plain whole-level side
        # ('.Members', no path constraint) contains every same-level
        # member of its dimension.  Anything else a plain side can spell
        # (.Children, ranges — path-constrained but NOT enumerated here)
        # would compare its PARENT path against member paths and silently
        # mis-intersect, so those raise.
        def _check_enumerable(refs, side_name):
            for r in refs:
                if r.kind == "member" and r.path:
                    continue
                if r.kind == "level_members" and not r.path:
                    continue
                raise MdxError(
                    f"INTERSECT with a computed argument supports "
                    f"concrete members or whole levels on the "
                    f"{side_name} side in this subset (got a "
                    f"{r.kind} set)"
                )

        _check_enumerable(left_refs, "left")
        _check_enumerable(right_refs, "right")
        right_levels = {
            (r.dimension.name, r.depth)
            for r in right_refs
            if not r.path
        }
        right_keys = {key(r) for r in right_refs if r.path}
        left_levels = {
            (r.dimension.name, r.depth) for r in left_refs if not r.path
        }
        picked = []
        for name, r in zip(left_names, left_refs):
            if not r.path:
                # a whole-level LEFT side intersected with concrete right
                # members of that level = the right members
                continue
            if (
                key(r) in right_keys
                or (r.dimension.name, r.depth) in right_levels
            ):
                picked.append(name)
        for name, r in zip(right_names, right_refs):
            if r.path and (r.dimension.name, r.depth) in left_levels:
                picked.append(name)
        if picked:
            self.q.axis(axis_i, *picked)
            return
        # empty intersection: a one-member axis filtered to nothing keeps
        # the grid's schema while yielding zero rows
        seed = (left_names or right_names or [None])[0]
        if seed is None:
            raise MdxError(
                "INTERSECT: both computed arguments are empty in the "
                "query context"
            )
        self.q.axis(axis_i, seed)
        self.q.filter("1 = 0")

    def _parse_set_raw(self):
        """parse_set + the argument's source text (for to_mdx round-trips
        of computed set arguments)."""
        t0 = self.peek()
        sb = self.parse_set()
        t1 = self.peek()
        raw = None
        if t0 is not None and t1 is not None and getattr(self, "src", None):
            raw = self.src[t0.pos : t1.pos].strip()
        return sb, raw

    def _set_arg(self, sb: "_SetBuild", where: str, raw: str | None):
        """Second set arguments of EXISTS/NONEMPTY/EXCEPT/DRILLDOWNMEMBER/
        TOGGLEDRILLSTATE: a plain member list passes through as-is; a
        computed set (FILTER/TOPCOUNT/HEAD/ORDER/EXCEPT result, expanded
        named set) becomes a :class:`~.query.SetExpr` evaluated in the
        slicer context at plan time (the reference accepts any set —
        jar!mondrian/olap/fun/ExistsFunDef, ExceptFunDef; the builder
        nests freely, lib/mondrian/olap/query.rb:47-57)."""
        if not sb.ops and not sb.set_ops:
            return list(sb.base)
        from .query import SetExpr

        if sb.set_ops:
            raise MdxError(
                f"nested CROSSJOIN arguments are not supported inside a "
                f"computed set argument of {where}"
            )
        ops: list[tuple] = []
        for d in sb.ops:
            k = d[0]
            if k == "filter":
                if len(d) > 2 and _alias_self_ref(d[1], d[2]):
                    raise MdxError(
                        "set self-references (ALIAS.Current) are not "
                        f"supported inside a computed set argument of {where}"
                    )
                ops.append(("filter", d[1]))
            elif k in ("topbottom", "slice", "order", "except"):
                ops.append(d)
            elif k in ("distinct", "nonempty"):
                ops.append((k,))
            elif k == "hierarchize":
                ops.append(("hierarchize",))
            else:
                raise MdxError(
                    f"{k.upper()} is not supported inside a computed set "
                    f"argument of {where}"
                )
        return SetExpr(members=tuple(sb.base), ops=tuple(ops), raw=raw)

    def parse_set_function(self) -> "_SetBuild":
        t_start = self.peek()
        fname = self.next().text.lower()
        self.expect_op("(")
        # period-to-date sets take a MEMBER (not a set) argument
        # (jar!mondrian/olap/fun/XtdFunDef, PeriodsToDateFunDef): the
        # periods at the member's level from its period-parent's start
        # through the member — lowered as an ordinal range, never
        # enumerated (query.periods_to_date)
        if fname in ("ytd", "qtd", "mtd", "wtd"):
            member = self.parse_member_string()
            self.expect_op(")")
            return _SetBuild(base=[], ops=[("xtd", fname, member)])
        if fname == "periodstodate":
            level = self.parse_member_string()
            self.expect_op(",")
            member = self.parse_member_string()
            self.expect_op(")")
            return _SetBuild(base=[], ops=[("ptd", level, member)])
        inner = self.parse_set()
        if fname in ("crossjoin", "nonemptycrossjoin"):
            self.expect_op(",")
            right = self.parse_set()
            self.expect_op(")")
            inner.base.extend(right.base)
            # a set FUNCTION as the crossjoin argument evaluates against its
            # own set in the slicer context (Mondrian nested-set semantics):
            # its whole op chain becomes ONE computed set (ranges constrain
            # the axis, they do not select)
            inner.ops.extend(op for op in right.ops if op[0] == "range")
            chain = [op for op in right.ops if op[0] != "range"]
            if chain:
                inner.set_ops.append(
                    self._set_arg(
                        _SetBuild(base=right.base, ops=chain), "CROSSJOIN", None
                    )
                )
            inner.set_ops.extend(right.set_ops)
            return inner
        if fname in ("union", "intersect"):
            # UNION(s1, s2[, ALL]) / INTERSECT(s1, s2)
            # (jar!mondrian/olap/fun/UnionFunDef, IntersectFunDef): plain
            # member lists canonicalize at parse time (written-form
            # identity, segment-wise); a COMPUTED argument on either side
            # defers to post-WHERE evaluation (slicer context) —
            # parse_axis + _apply_deferred_setop.
            self.expect_op(",")
            right, raw_r = self._parse_set_raw()
            all_flag = False
            if self.at_op(","):
                self.next()
                if not self.at_word("all"):
                    raise MdxError(
                        f"{fname.upper()}: third argument must be ALL"
                    )
                self.next()
                all_flag = True
            self.expect_op(")")
            if inner.ops or inner.set_ops or right.ops or right.set_ops:
                # verbatim source span of the WHOLE call: to_mdx
                # serializes it instead of the evaluated member list
                # (round-12 verdict item 5; reference to_mdx is exact —
                # query.rb:230-237)
                raw_full = None
                if t_start is not None and getattr(self, "src", None):
                    t_end = self.peek()
                    end = t_end.pos if t_end is not None else len(self.src)
                    raw_full = self.src[t_start.pos : end].strip()
                    if raw_full and not raw_full.endswith(")"):
                        raw_full = raw_full[: raw_full.rfind(")") + 1]
                return _SetBuild(
                    base=[],
                    ops=[
                        (
                            "setop_expr", fname, inner, right, all_flag,
                            raw_r, raw_full,
                        )
                    ],
                )
            left_m = self._plain_members(inner, fname.upper())
            right_m = self._plain_members(right, fname.upper())

            def canon(s: str):
                # segment-wise identity: whitespace INSIDE a bracketed
                # segment is part of the member name — '[North America]'
                # and '[NorthAmerica]' are different members (a strip-all-
                # whitespace canon would merge them); only case and
                # inter-token spacing normalize away
                try:
                    return tuple(
                        seg.lower() for seg in parse_identifier(s.strip())
                    )
                except MemberParseError:
                    return (re.sub(r"\s+", " ", s.strip()).lower(),)

            if fname == "intersect":
                if all_flag:
                    raise MdxError(
                        "INTERSECT ALL is not supported in this subset"
                    )
                rset = {canon(m) for m in right_m}
                picked = [m for m in left_m if canon(m) in rset]
            else:
                if all_flag:
                    # ALL keeps duplicates; the cell grid dedups rows, so
                    # duplicate members collapse on display (documented)
                    return _SetBuild(base=left_m + right_m)
                picked = left_m + right_m
            seen: set = set()
            out_members: list[str] = []
            for m in picked:
                if canon(m) not in seen:
                    seen.add(canon(m))
                    out_members.append(m)
            return _SetBuild(base=out_members)
        if fname == "visualtotals":
            # VISUALTOTALS(set[, 'pattern']) (jar!mondrian/olap/fun/
            # VisualTotalsFunDef): parent totals from visible children
            # only; pattern renders the parent caption ('*' = member name)
            pattern = None
            if self.at_op(","):
                self.next()
                t = self.next()
                if t.kind != "string":
                    raise MdxError(
                        "VISUALTOTALS pattern must be a quoted string"
                    )
                pattern = _unquote(t.text)
            self.expect_op(")")
            inner.ops.append(("visual_totals", pattern))
            return inner
        if fname == "filter":
            # FILTER(set AS S, cond) names the set for self-reference
            # (query_test.rb:635-644); a bare named-set argument implicitly
            # aliases as its own name (NamedSetExpr semantics)
            alias = inner.alias
            if self.at_word("as"):
                self.next()
                alias = _segment(self.next())
            self.expect_op(",")
            cond = self.parse_value_expression()
            self.expect_op(")")
            inner.ops.append(("filter", cond, alias))
            return inner
        if fname == "order":
            self.expect_op(",")
            expr = self.parse_value_expression()
            direction = "BASC"
            if self.at_op(","):
                self.next()
                direction = self.expect_word("asc", "desc", "basc", "bdesc").text.upper()
            self.expect_op(")")
            inner.ops.append(("order", expr, direction))
            return inner
        if fname in ("topcount", "bottomcount", "toppercent", "bottompercent", "topsum", "bottomsum"):
            self.expect_op(",")
            n = self.number_arg(fname, integer=False)
            expr = None
            if self.at_op(","):
                self.next()
                expr = self.parse_value_expression()
            self.expect_op(")")
            side = "top" if fname.startswith("top") else "bottom"
            how = fname.removeprefix(side)
            arg = int(n) if how == "count" else n
            inner.ops.append(("topbottom", side, how, arg, expr))
            return inner
        if fname in ("head", "tail"):
            self.expect_op(",")
            n = self.number_arg(fname)
            self.expect_op(")")
            inner.ops.append(("slice", 0, n, fname == "tail"))
            return inner
        if fname == "subset":
            self.expect_op(",")
            start = self.number_arg(fname)
            count = 2**31 - 1
            if self.at_op(","):
                self.next()
                count = self.number_arg(fname)
            self.expect_op(")")
            inner.ops.append(("slice", start, count, False))
            return inner
        if fname == "toggledrillstate":
            # TOGGLEDRILLSTATE(set1, set2) — flip each set2 member's drill
            # state within set1 (ToggleDrillStateFunDef); RECURSIVE flag
            # accepted (collapse removes the whole drill either way here)
            self.expect_op(",")
            right, raw = self._parse_set_raw()
            if self.at_op(","):
                self.next()
                self.expect_word("recursive")
            self.expect_op(")")
            inner.ops.append(
                ("toggle_drill", self._set_arg(right, "TOGGLEDRILLSTATE", raw))
            )
            return inner
        if fname == "drilldownmember":
            # DRILLDOWNMEMBER(set1, set2) — drill set2's members within set1
            self.expect_op(",")
            right, raw = self._parse_set_raw()
            self.expect_op(")")
            inner.ops.append(
                ("drilldown_member", self._set_arg(right, "DRILLDOWNMEMBER", raw))
            )
            return inner
        if fname in ("drilldownlevel", "drilldownleveltop", "drilldownlevelbottom"):
            n = None
            expr = None
            while self.at_op(","):
                self.next()
                if self.at_op(","):
                    continue  # empty optional-argument slot
                if self.at_op(")"):
                    break
                if n is None and fname != "drilldownlevel":
                    n = self.number_arg(fname)
                    continue
                # a [Dim].[Level] reference is the optional level argument —
                # implicit here (the drill always goes one level below the
                # set); anything else is the ranking expression
                save = self.i
                try:
                    segs = self.parse_identifier_segments()
                    resolve_level(
                        self.cube, ".".join(quote_segment(s) for s in segs)
                    )
                    continue
                except Exception:
                    self.i = save
                    expr = self.parse_value_expression()
            self.expect_op(")")
            if fname == "drilldownlevel":
                inner.ops.append(("drilldown_level",))
            else:
                if n is None:
                    raise MdxError(f"{fname.upper()} needs a count argument")
                side = "top" if fname == "drilldownleveltop" else "bottom"
                inner.ops.append(("drilldown_level_top", n, expr, side))
            return inner
        if fname == "generate":
            # GENERATE(set1, set2[, ALL]) — set2 may reference CurrentMember
            self.expect_op(",")
            right, raw = self._parse_set_raw()
            all_flag = False
            if self.at_op(","):
                self.next()
                self.expect_word("all")
                all_flag = True
            self.expect_op(")")
            if right.ops or right.set_ops:
                # computed set2: it cannot reference CurrentMember, so the
                # result IS set2 evaluated (GenerateFunDef degenerate case)
                # — lowered as a set replacement + set2's op chain
                inner.ops.append(("generate_expr", right, all_flag, raw))
            else:
                inner.ops.append(("generate", list(right.base), all_flag))
            return inner
        if fname == "except":
            self.expect_op(",")
            right, raw = self._parse_set_raw()
            self.expect_op(")")
            inner.ops.append(("except", self._set_arg(right, "EXCEPT", raw)))
            return inner
        if fname == "exists":
            # EXISTS(set1, set2) — set1 members sharing fact rows with set2
            self.expect_op(",")
            right, raw = self._parse_set_raw()
            self.expect_op(")")
            inner.ops.append(
                ("exists", self._set_arg(right, "EXISTS", raw))
            )
            return inner
        if fname == "nonempty":
            # NONEMPTY(set[, set2]) (jar!mondrian/olap/fun/NonEmptyFunDef):
            # one-arg form = drop empty cells in the query context; two-arg
            # form = keep set1 members with data in set2's member context
            # (shared-fact-rows semi-join, same plan as EXISTS)
            if self.at_op(","):
                self.next()
                right, raw = self._parse_set_raw()
                self.expect_op(")")
                inner.ops.append(
                    ("exists", self._set_arg(right, "NONEMPTY", raw))
                )
            else:
                self.expect_op(")")
                inner.ops.append(("nonempty",))
            return inner
        if fname == "distinct":
            self.expect_op(")")
            inner.ops.append(("distinct",))
            return inner
        if fname == "hierarchize":
            post = False
            if self.at_op(","):
                self.next()
                post = self.expect_word("post").text.lower() == "post"
            self.expect_op(")")
            inner.ops.append(("hierarchize", post))
            return inner
        raise MdxError(f"unsupported set function {fname!r}")

    # -- identifiers / members ----------------------------------------
    def _edge_of(self, member_with_suffix: str, strip: int, last: bool) -> str:
        """Resolve First/Last Child (strip=1: suffix only → children of the
        member) or Sibling (strip=2: suffix + own key → children of the
        parent) to a concrete member identifier via the engine's
        ordinal-ordered lookup."""
        segs = _strip_segments(member_with_suffix, strip)
        if strip == 1:
            # …[m].FirstChild: children live under m's own path
            parent_path_segs = segs[1:]
            ref = resolve(self.cube, format_name(segs))
            depth = ref.depth + 1
            if depth >= len(ref.dimension.levels):
                raise MdxError(
                    f"{member_with_suffix!r}: no level below "
                    f"{ref.dimension.levels[ref.depth].name}"
                )
        else:
            # …[m].FirstSibling: siblings live under m's PARENT path
            parent_path_segs = segs[1:]
            depth = len(parent_path_segs)
            if depth >= len(self.cube.dimension(segs[0]).levels):
                raise MdxError(f"{member_with_suffix!r}: path deeper than hierarchy")
        try:
            key = self.engine.edge_member(
                segs[0], depth, tuple(parent_path_segs), last=last
            )
        except KeyError as e:
            raise MdxError(str(e)) from None
        return format_name([segs[0], *parent_path_segs, str(key)])

    def parse_identifier_segments(self) -> list[str]:
        return [s for s, _ in self.parse_identifier_segments_tagged()]

    def parse_identifier_segments_tagged(self) -> list[tuple[str, bool]]:
        """Segments with their quoting: ``(text, was_bracketed)`` — the tag
        distinguishes the ``.Children`` KEYWORD from a member key literally
        named ``[Children]``."""
        t = self.next()
        segs = [(_segment(t), t.kind == "bracket")]
        while self.at_op("."):
            self.next()
            t = self.next()
            segs.append((_segment(t), t.kind == "bracket"))
        return segs

    #: navigation suffix keywords (only meaningful when UNQUOTED)
    _NAV_WORDS = (
        "members", "allmembers", "children", "currentmember",
        "firstchild", "lastchild", "parent",
        "firstsibling", "lastsibling", "siblings",
    )

    def parse_member_string(self) -> str:
        segs = self.parse_identifier_segments_tagged()
        # [Measures].DefaultMember (HierarchyDefaultMemberFunDef;
        # mondrian_test.rb:313 NonEmptyCrossJoin([Measures].DefaultMember,
        # …)) resolves to the cube's default measure here; a DIMENSION's
        # DefaultMember falls through to the member-resolution path (first
        # member in hierarchy order — test_default_member).
        if (
            len(segs) == 2
            and not segs[-1][1]
            and segs[-1][0].lower() == "defaultmember"
            and segs[0][0].lower() == "measures"
        ):
            dm = self.cube.default_measure_obj()
            return f"[Measures].{quote_segment(dm.name)}"
        if (
            len(segs) >= 2
            and not segs[-1][1]
            and segs[-1][0].lower() == "currentdatemember"
        ):
            # [Dim].[Level].CurrentDateMember — the member whose period
            # contains the evaluation date, else the latest before it
            # (star.current_date_member; the reference's schema calc-
            # member idiom, schema_definition_test.rb:580-591).  A
            # parse-time constant like DefaultMember above.
            ident = ".".join(quote_segment(s) for s, _ in segs[:-1])
            try:
                dim, li = resolve_level(self.cube, ident)
            except (KeyError, MemberParseError) as e:
                raise MdxError(
                    f"CurrentDateMember needs a [Dimension].[Level] "
                    f"prefix, got {ident!r}"
                ) from e
            path = self.engine.current_date_member(dim.name, li)
            return format_name([dim.name, *path])
        return ".".join(
            s
            if not bracketed and s.lower() in self._NAV_WORDS
            else quote_segment(s)
            for s, bracketed in segs
        )

    # -- value expressions --------------------------------------------
    def parse_value_expression(self) -> str:
        """Parse an expression until an unbalanced ')' or a top-level ','
        and translate it to Spark SQL over measure output aliases."""
        depth = 0
        parts: list[str] = []
        while True:
            t = self.peek()
            if t is None:
                break
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break
                depth -= 1
            elif t.kind == "op" and t.text == "," and depth == 0:
                break
            parts.append(self.next().text)
        if not parts:
            raise MdxError("empty expression")
        return self.translate_expression_text(" ".join(parts))

    def _object_accessor_literal(self, ident: str, obj: str, prop: str) -> str | None:
        """Fold ``X[.Dimension|.Hierarchy|.Level].Name/UniqueName/Caption/
        Ordinal`` to a SQL literal.  ``X`` may be a member path, a level
        identifier, a bare dimension, or a measure reference — all static
        metadata.  Returns ``None`` when the identifier doesn't resolve
        (the expression is left untouched for later passes)."""
        def s(lit: str) -> str:
            return "'" + lit.replace("'", "''") + "'"

        def uname(segs: list[str]) -> str:
            return format_name(segs)

        try:
            segs = parse_identifier(ident)
        except Exception:
            return None
        if segs[0].lower() == "measures":
            # the Measures dimension: its single level is named
            # "MeasuresLevel" in Mondrian
            if len(segs) >= 2 and segs[1].lower() == "measureslevel":
                if len(segs) == 2:
                    if obj in ("dimension", "hierarchy"):
                        return {
                            "name": s("Measures"),
                            "uniquename": s("[Measures]"),
                            "caption": s("Measures"),
                        }.get(prop)
                    # the level identifier itself — fold its own props
                    return {
                        "name": s("MeasuresLevel"),
                        "uniquename": s("[Measures].[MeasuresLevel]"),
                        "caption": s("MeasuresLevel"),
                        "ordinal": "0",
                    }.get(prop)
                # [Measures].[MeasuresLevel].[X]… → the measure X's
                # level-qualified unique-name form; drop the level segment
                segs = [segs[0]] + segs[2:]
            if len(segs) == 2:
                # validate existence BEFORE folding any chain — a typo'd
                # measure must raise not-found, not produce a plausible
                # constant (query_test.rb:774-781)
                try:
                    self.cube.measure(segs[1])
                except KeyError:
                    if not any(
                        cm.name.lower() == segs[1].lower()
                        for cm in self.q._with
                    ):
                        raise MdxError(
                            f"MDX object '[Measures].{quote_segment(segs[1])}'"
                            f" not found in cube '{self.cube.name}'"
                        ) from None
            elif len(segs) > 2:
                return None
            if obj in ("dimension", "hierarchy"):
                return {
                    "name": s("Measures"),
                    "uniquename": s("[Measures]"),
                    "caption": s("Measures"),
                }.get(prop)
            if obj == "level":
                return {
                    "name": s("MeasuresLevel"),
                    "uniquename": s("[Measures].[MeasuresLevel]"),
                    "caption": s("MeasuresLevel"),
                    "ordinal": "0",
                }.get(prop)
            if len(segs) == 1:  # bare [Measures] dimension reference
                return {
                    "name": s("Measures"),
                    "uniquename": s("[Measures]"),
                    "caption": s("Measures"),
                }.get(prop)
            if len(segs) == 2 and prop in ("name", "uniquename", "caption"):
                # existence was already validated above — only the cube
                # lookup (None for query-scoped WITH members) is needed
                # for the declared caption
                try:
                    measure = self.cube.measure(segs[1])
                except KeyError:
                    measure = None  # a validated WITH member
                if prop == "uniquename":
                    return s(uname(segs))
                if prop == "caption":
                    cap = getattr(measure, "caption", None)
                    return s(cap or segs[1])
                return s(segs[1])
            return None
        try:
            dim = self.cube.dimension(segs[0])
        except KeyError:
            return None
        rest = segs[1:]
        # classify: level identifier beats member path on name collision
        # (Mondrian's resolution order)
        level_idx: int | None = None
        member_path: list[str] | None = None
        if len(rest) == 1 and dim.level_index(rest[0]) is not None:
            level_idx = dim.level_index(rest[0])
        elif rest:
            if len(rest) > len(dim.levels):
                return None
            member_path = rest
            level_idx = len(rest) - 1
        if member_path is not None:
            # validate existence BEFORE folding anything, like the measure
            # branch: [Customer].[Bogus].Name (or .Dimension.Name etc.)
            # must raise the reference's member-not-found error, not fold
            # to a plausible constant.  Query-scoped WITH members on this
            # dimension are exempt — not in the data by construction.
            # ≤1-row probe sharing level_members' visibility rules.
            is_query_member = any(
                dm[1].lower() == member_path[-1].lower()
                for dm in self.q._dim_members
            )
            if not is_query_member:
                # WITH entries parse in order, so a formula may reference a
                # dimension calc member DEFINED LATER in the same clause —
                # scan the raw statement for such a definition before
                # probing the data (parse-order independence).  The scan is
                # scoped to THIS dimension: a later [Measures] (or other-
                # dimension) member with a colliding name must not exempt a
                # typo'd member from the not-found error.
                later_def = re.compile(
                    r"(?is)\bmember\s+\[((?:[^\]]|\]\])*)\]"
                    r"\s*\.\s*(?:\[(?:[^\]]|\]\])*\]\s*\.\s*)*\["
                    + re.escape(member_path[-1])
                    + r"\]\s*as\b"
                )
                want = dim.name.replace(".", "").lower()
                for dm_match in later_def.finditer(
                    getattr(self, "src", "") or ""
                ):
                    first = dm_match.group(1).replace("]]", "]")
                    # secondary hierarchies are written [Dim.Hierarchy] but
                    # the dimension object is the squashed name (TimeWeekly)
                    # — compare through the same squashing rule
                    if first.replace(".", "").lower() == want:
                        is_query_member = True
                        break
            if not is_query_member and not self.engine.member_exists(
                dim.name, level_idx, tuple(member_path)
            ):
                raise MdxError(
                    f"MDX object '{uname([dim.name, *member_path])}' not "
                    f"found in cube '{self.cube.name}'"
                )
        if obj in ("dimension", "hierarchy"):
            return {
                "name": s(dim.name),
                "uniquename": s(uname([dim.name])),
                "caption": s(getattr(dim, "caption", None) or dim.name),
            }.get(prop)
        if obj == "level":
            if level_idx is None:
                return None
            lv = dim.levels[level_idx]
            return {
                "name": s(lv.name),
                "uniquename": s(uname([dim.name, lv.name])),
                # the level's DISPLAY caption — lv.caption is the member-
                # caption SQL expression and must never leak as a constant
                "caption": s(lv.display_caption or lv.name),
                "ordinal": str(level_idx),
            }.get(prop)
        # no object step: property directly on the identifier
        if member_path is not None:
            if prop == "caption":
                lv = dim.levels[level_idx]
                if lv.caption or lv.formatter or lv.caption_locales:
                    # member captions with a caption expression are DATA,
                    # not metadata — refuse to constant-fold a wrong value
                    raise MdxError(
                        f"{ident}.Caption is data-dependent (the level "
                        f"declares a caption expression); read it via "
                        f"level_members(include_properties=True)"
                    )
                return s(member_path[-1])
            # member .Ordinal is data-dependent (position within its level)
            # — not a metadata constant, so leave it to raise loudly
            return {
                "name": s(member_path[-1]),
                "uniquename": s(uname([dim.name, *member_path])),
            }.get(prop)
        if level_idx is not None:  # level identifier
            lv = dim.levels[level_idx]
            return {
                "name": s(lv.name),
                "uniquename": s(uname([dim.name, lv.name])),
                "caption": s(lv.display_caption or lv.name),
                "ordinal": str(level_idx),
            }.get(prop)
        # bare dimension reference
        return {
            "name": s(dim.name),
            "uniquename": s(uname([dim.name])),
            "caption": s(getattr(dim, "caption", None) or dim.name),
        }.get(prop)

    def translate_expression_text(self, text: str) -> str:
        """MDX value expression → Spark SQL over output aliases.

        The passes, in order: ``Parameter("p", TYPE, default)`` /
        ``ParamRef("p")`` substitution, ``Dimensions(i)`` and
        ``StrToTuple("…")``; CASE…END suffixes, object accessors and
        ``.Properties('X')``; Aggregate, the set statistics,
        SetToStr/TupleToStr and Generate; the VBA/Excel table; tuples,
        ``[Measures].[X]`` references and MATCHES; CoalesceEmpty, Cache,
        IsDirty and IIF.  A call-shaped construct is a
        :func:`rewrite_calls` entry, any other a :func:`sub_code` regex,
        so no pass looks inside a string literal — one of the input's or a
        constant an earlier pass folded.  Arithmetic/boolean operators
        pass through (AND/OR/NOT/CASE are shared syntax)."""

        def param_value(name: str, default: str | None) -> str:
            if name in self.params:
                return _sql_literal(self.params[name])
            if name in self.defined_params:
                return _sql_literal(self.defined_params[name])
            if default is not None:
                return default
            raise MdxError(f"parameter {name!r} has no value and no default")

        def repl_parameter(args: list[str]):
            # Parameter("p", TYPE, default[, description])
            if not 3 <= len(args) <= 4 or not re.fullmatch(_LITERAL, args[0]):
                return None
            name, default = _unquote(args[0]), args[2]
            self.defined_params.setdefault(
                name, self.params.get(name, _parse_literal(default))
            )
            return param_value(name, default)

        def repl_paramref(args: list[str]):
            if len(args) != 1 or not re.fullmatch(_LITERAL, args[0]):
                return None
            return param_value(_unquote(args[0]), None)

        def repl_dimensions(args: list[str]) -> str:
            # Dimensions(n) / Dimensions("name") inside a value expression
            # — folds to the dimension's bracketed identifier so the
            # object-accessor pass below can take .Name/.UniqueName of it
            arg = args[0] if len(args) == 1 else ""
            if re.fullmatch(_LITERAL, arg):
                key: int | str = _unquote(arg)
            elif re.fullmatch(r"[0-9]+", arg):
                key = int(arg)
            else:
                raise MdxError(
                    "Dimensions() takes a numeric index or a quoted name"
                )
            name = self._dimension_by_index_or_name(key)
            return "[" + name.replace("]", "]]") + "]"

        def repl_strtotuple(args: list[str]):
            # StrToTuple("(…)") as a value expression: the string's MDX, for
            # the tuple-scalar lowering below
            if len(args) != 1 or not re.fullmatch(_LITERAL, args[0]):
                return None
            return _unquote(args[0])

        out = rewrite_calls(
            text,
            {
                "parameter": repl_parameter,
                "paramref": repl_paramref,
                "dimensions": repl_dimensions,
                "strtotuple": repl_strtotuple,
            },
        )

        # ``[Measures].[X]``, the name in group 1
        measure_ref = r"\[Measures\]\s*\.\s*\[((?:[^\]]|\]\])*)\]"

        def case_results(inner: str, lower) -> str:
            # each THEN/ELSE *result* of a CASE…END text through
            # ``lower(body)``; WHEN conditions and the selector keep their
            # cell values
            return sub_code(
                rf"\b(THEN\s+|ELSE\s+)((?:{_OPAQUE}|[^'\"\[])*?)"
                r"(?=\bWHEN\b|\bELSE\b|\bEND\b)",
                lambda rm: rm.group(1) + lower(rm.group(2)),
                inner,
                re.I | re.S,
            )

        # ``CASE … END.``, tempered: no nested CASE/END inside, so a suffix
        # binds to the nearest preceding CASE and never swallows an earlier
        # one
        case_end = (
            rf"(\bCASE\b(?:{_OPAQUE}|(?!\bCASE\b|\bEND\b)[^'\"\[])*\bEND\b)"
            r"\s*\.\s*"
        )
        # CASE … END.Name returns the winning *member's name* as a string
        # (mondrian_test.rb:382-397): member references in the result
        # positions become their names and the .Name drops
        out = sub_code(
            case_end + r"Name\b",
            lambda m: case_results(
                m.group(1),
                lambda body: sub_code(
                    measure_ref,
                    lambda mm: _sql_literal(mm.group(1).replace("]]", "]")),
                    body,
                ),
            ),
            out,
            re.I | re.S,
        )

        def case_item(m: re.Match, pick) -> str:
            # CASE … END.Item(i): branches return members or tuples; each
            # result becomes ``pick`` of its i-th component.  A bare member
            # coerces to a 1-tuple (Item(0) = itself, like Mondrian's
            # member→tuple coercion); scalar branches stay as written
            # (scalar.Item(i) = the scalar)
            idx = int(m.group(2))

            def lower(body: str) -> str:
                stripped = body.strip()
                if re.fullmatch(
                    rf"\(\s*{_ID_CHAIN}(?:\s*,\s*{_ID_CHAIN})*\s*\)",
                    stripped,
                ):
                    parts = re.findall(_ID_CHAIN, stripped)
                elif re.fullmatch(_ID_CHAIN, stripped):
                    parts = [stripped]
                else:
                    return body
                if idx >= len(parts):
                    raise MdxError(
                        f"Item({idx}): CASE result tuple has only "
                        f"{len(parts)} component(s)"
                    )
                return pick(parts[idx]) + body[len(body.rstrip()):]

            return case_results(m.group(1), lower)

        # CASE … END.Item(i).Name (mondrian_test.rb:388-397): the winning
        # result's i-th component's NAME
        out = sub_code(
            case_end + r"Item\s*\(\s*(\d+)\s*\)\s*\.\s*Name\b",
            lambda m: case_item(
                m, lambda comp: _sql_literal(parse_identifier(comp)[-1])
            ),
            out,
            re.I | re.S,
        )
        # bare CASE … END.Item(i) as a VALUE (mondrian_test.rb:361-380
        # family): the i-th component evaluated as a cell value in the
        # current context — a [Measures] component is that measure's
        # reference; any other member becomes a single-member tuple scalar
        # (implicit current measure → the cube's default measure)
        out = sub_code(
            case_end + r"Item\s*\(\s*(\d+)\s*\)(?!\s*\.)",
            lambda m: case_item(
                m,
                lambda comp: comp
                if parse_identifier(comp)[0].lower() == "measures"
                else "(" + comp + ")",
            ),
            out,
            re.I | re.S,
        )
        if search_code(r"\bEND\s*\.\s*Item\b", out, re.I):
            raise MdxError(
                "CASE … END.Item(i): only .Name / bare-value suffixes over "
                "non-nested CASE expressions are supported in this subset"
            )

        def repl_accessor(m: re.Match) -> str:
            # object-accessor family on metadata identifiers
            # (jar!mondrian/olap/fun/DimensionDimensionFunDef,
            # LevelLevelFunDef, …): X.Dimension/.Hierarchy/.Level chains
            # and direct .Name/.UniqueName/.Caption/.Ordinal — all
            # compile-time metadata constants, folded to literals here
            ident = m.group(1)
            obj = (m.group(2) or "").lower()
            prop = m.group(3).lower()
            lit = self._object_accessor_literal(ident, obj, prop)
            return m.group(0) if lit is None else lit

        out = sub_code(
            r"(" + _ID_CHAIN + r")\s*\.\s*"
            r"(?:(Dimension|Hierarchy|Level)\s*\.\s*)?"
            r"(Name|UniqueName|Caption|Ordinal)\b",
            repl_accessor,
            out,
            re.I,
        )

        def repl_member_property(m: re.Match) -> str:
            # <pinned member>.Properties('X') as a VALUE
            # (mondrian_test.rb:157-190: date/datetime property values feed
            # format strings): the member is fixed, so the property value
            # is ONE scalar — fetched via a memoized 1-row lookup and
            # inlined as a TYPED literal (DATE/TIMESTAMP literals keep
            # date-format strings working on the result)
            ident = m.group(1)
            pname = _unquote(m.group(2))
            try:
                segs = parse_identifier(ident)
                dim = self.cube.dimension(segs[0])
            except Exception:
                return m.group(0)
            path = segs[1:]
            if not path or len(path) > len(dim.levels):
                return m.group(0)
            # a bare level reference has no single property value
            if len(path) == 1 and dim.level_index(path[0]) is not None:
                return m.group(0)
            try:
                v = self.engine.member_property_value(
                    dim.name, len(path) - 1, tuple(path), pname
                )
            except KeyError as e:
                raise MdxError(str(e)) from None
            import datetime as _dt
            from decimal import Decimal as _Dec

            if v is None:
                return "null"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, _dt.datetime):
                return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
            if isinstance(v, _dt.date):
                return f"DATE '{v.isoformat()}'"
            if isinstance(v, (int, float, _Dec)):
                return str(v)
            return _sql_literal(str(v))

        out = sub_code(
            rf"({_ID_CHAIN})\s*\.\s*Properties\s*\(\s*({_LITERAL})\s*\)",
            repl_member_property,
            out,
            re.I,
        )

        def _register_stat(
            fn, exprs, member_strs, arg, nan_wrap, existing=False, where=None
        ):
            return _intern(
                self.q._stat_scalars, "__setstat", fn, tuple(exprs),
                tuple(member_strs), arg, nan_wrap, existing, where,
            )

        def repl_aggregate_value(args: list[str]):
            # Aggregate() as a VALUE inside a Measures formula
            # (mondrian_test.rb:197-228): three forms —
            #   Aggregate({m1, m2})               implicit current measure
            #   Aggregate({m1, m2} * {[Measures].[X]})  explicit measure
            #   Aggregate({m1, m2}, expr)          expression per member
            # The member-set forms lower through the tuple-scalar machinery
            # (same-dimension members become an IN — exact even for
            # distinct-count); the expression form is Sum(set, expr), the
            # additive combine: the ``sum`` set statistic below
            # (plan._attach_stat_scalar).
            try:
                p = self._over(args[0]) if args else None
            except MdxError:
                p = None
            set_members = p._crossjoined_members() if p is not None else None
            if set_members is None:
                return None  # not the set form — leave untouched
            if len(args) > 2:
                raise MdxError("Aggregate takes (set[, expression])")
            expr_part = args[1] if len(args) == 2 else None
            measure_name = None
            members: list[str] = []
            for mstr in set_members:
                segs = parse_identifier(mstr)
                if segs[0].lower() == "measures":
                    if measure_name is not None:
                        raise MdxError(
                            "Aggregate set has more than one Measures "
                            "component"
                        )
                    if len(segs) != 2:
                        raise MdxError(
                            f"bad measure reference in Aggregate: {mstr}"
                        )
                    measure_name = segs[1]
                else:
                    members.append(mstr)
            if not members:
                raise MdxError("Aggregate needs at least one member in its set")
            if expr_part is not None:
                if measure_name is not None:
                    raise MdxError(
                        "Aggregate takes a measure in the set OR an "
                        "expression argument, not both"
                    )
                return _register_stat(
                    "sum", (self.translate_expression_text(expr_part),),
                    members, None, False,
                )
            return _intern(
                self.q._tuple_scalars, "__tuple", measure_name, tuple(members)
            )

        out = rewrite_calls(out, {"aggregate": repl_aggregate_value})

        # ---- set statistics as VALUE expressions ----------------------
        # Median/Stdev/Var/…(set, expr), Correlation/Covariance/LinReg*
        # (set, y[, x]), LinRegPoint(x0, set, y, x), Percentile(set, expr,
        # p), Count(set[, EXCLUDEEMPTY]) — lowered to a per-member
        # sub-aggregate + a statistic collapse (plan._attach_stat_scalar);
        # the Aggregate expression form above is its ``sum``.
        # Reference WITH MEMBER texts (mondrian_test.rb:608-778) parse
        # verbatim, including Rank(<dim>.CurrentMember, <set>) arguments.
        def _stat_members(text: str):
            """A statistic's set ``text`` read by _formula_set →
            (members, where), or None when it is not a set.  A named set
            defined by FILTER splices its members, and its conditions fold
            into the sub-aggregate row filter like an inline
            Filter(set, cond) argument's."""
            sb = self._formula_set(text)
            if sb is None or sb.set_ops or any(
                op[0] != "filter" for op in sb.ops
            ):
                return None
            conds = []
            for op in sb.ops:
                if len(op) > 2 and _alias_self_ref(op[1], op[2]):
                    raise MdxError(
                        "set self-references (ALIAS.Current) are not "
                        "supported in a named set used as a statistic "
                        "argument"
                    )
                conds.append(f"({op[1]})")
            return list(sb.base), " AND ".join(conds) or None

        def _set_key(read) -> tuple:
            """What two reads of one set share: members up to case, and
            the named-set conditions."""
            members, where = read
            return tuple(m.lower() for m in members), where

        def _translate_stat_expr(raw: str, set_key: tuple) -> str:
            # Rank(<dim>.CurrentMember, <this set>) → __setrank, the
            # member's 1-based hierarchy-order position (data-independent;
            # the planner joins it from the member list)
            def repl_rank(ps: list[str]) -> str:
                cur = current_member(self.cube, ps[0]) if ps else None
                if (
                    len(ps) != 2
                    or cur is None
                    or cur[1] != len(ps[0])
                    or (read := _stat_members(ps[1])) is None
                    or _set_key(read) != set_key
                ):
                    raise MdxError(
                        "Rank() inside a set statistic is supported only as "
                        "Rank(<dim>.CurrentMember, <the statistic's own set>)"
                    )
                return " __setrank "

            raw = rewrite_calls(raw, {"rank": repl_rank})
            return self.translate_expression_text(raw)

        def _set_member_count(member_strs) -> int:
            total = 0
            for mstr in member_strs:
                try:
                    ref = resolve(self.cube, mstr)
                except (KeyError, MemberParseError) as e:
                    raise MdxError(f"Count: {mstr}: {e}") from None
                if getattr(ref, "kind", None) in ("children", "level_members"):
                    total += self.engine.level_members(
                        ref.dimension.name, ref.depth, path=ref.path
                    ).count()
                else:
                    total += 1
            return total

        def _setstat_handler(mdx_name: str):
            stat = _SETSTAT[mdx_name]

            def repl(parts: list[str]):
                arg = None
                if mdx_name == "linregpoint":
                    # LinRegPoint(x0, set, y, x) = slope·x0 + intercept
                    if len(parts) != 4:
                        raise MdxError("LinRegPoint takes (x0, set, y, x)")
                    try:
                        arg = float(parts[0])
                    except ValueError:
                        raise MdxError(
                            "LinRegPoint x0 must be a numeric literal in "
                            "this subset"
                        ) from None
                    parts = parts[1:]
                set_src = parts[0] if parts else ""
                # one-arg EXISTING form (jar!mondrian/olap/fun/
                # ExistingFunDef; SURVEY §2.3 "filter set to members having
                # data in current context"): the set evaluates against the
                # CURRENT evaluation context — the sub-aggregate keeps the
                # grid's own grain for the set's dimension instead of
                # overriding it, so each cell sees only the members that
                # share fact rows with its coordinates + the slicer
                try:
                    head = self._over(set_src)
                except MdxError:
                    head = None
                existing = head is not None and head.at_word("existing")
                if existing:
                    head.next()
                    set_src = set_src[head.peek().pos :] if head.peek() else ""
                # Filter(set, cond) as the set argument (FilterFunDef
                # inside an evaluator call, e.g. Count(Filter(...)) —
                # the reference evaluates the filter per member in the
                # current context): the condition lowers into the stat
                # sub-aggregate as a row filter before the collapse
                fparts = _call_args(set_src, "filter")
                if fparts is not None and len(fparts) == 2:
                    read = _stat_members(fparts[0])
                else:
                    fparts, read = None, _stat_members(set_src)
                if read is None:
                    if existing:
                        raise MdxError(
                            "EXISTING takes a set ({…} or <level>.Members)"
                        )
                    if stat.strict:
                        raise MdxError(
                            f"{mdx_name}: first argument must be a set "
                            "({…} or <level>.Members)"
                        )
                    return None  # plausible plain SQL — leave untouched
                member_strs, where_cond = read
                set_key = _set_key(read)
                if fparts is not None:
                    cond = _translate_stat_expr(fparts[1], set_key)
                    where_cond = (
                        cond
                        if where_cond is None
                        else f"({cond}) AND ({where_cond})"
                    )
                args = parts[1:]
                if stat.family == "count":
                    flag = args[0].strip().lower() if args else "includeempty"
                    if flag == "excludeempty":
                        # non-empty cells of the cube's DEFAULT measure
                        # (documented deviation: Mondrian counts wrt the
                        # evaluation-context measure, which a WITH MEMBER
                        # formula cannot pin statically)
                        expr = self.cube.default_measure_obj().out
                        return _register_stat(
                            "count", (expr,), member_strs, None, False,
                            existing, where_cond,
                        )
                    if args and flag != "includeempty":
                        # Count(set, expr): count of non-NULL expr values
                        e = _translate_stat_expr(args[0], set_key)
                        return _register_stat(
                            "count", (e,), member_strs, None, False,
                            existing, where_cond,
                        )
                    if existing or where_cond is not None:
                        # Count(EXISTING set) / Count(Filter(set, cond))
                        # is context/data-dependent by definition — one
                        # sub-aggregate row per surviving member, counted
                        # data-side (never a metadata fold)
                        return _register_stat(
                            "count", ("1",), member_strs, None, False,
                            existing, where_cond,
                        )
                    # IncludeEmpty (the MDX default): a metadata count —
                    # members exist whether or not fact rows do, so the
                    # count folds to a literal at translation time
                    return str(_set_member_count(member_strs))
                if stat.family == "expr":
                    if mdx_name == "percentile":
                        if len(args) != 2:
                            raise MdxError(
                                "Percentile takes (set, expr, p) with p "
                                "in 0..100"
                            )
                        try:
                            # Mondrian's Percentile takes 0..100
                            arg = float(args[1]) / 100.0
                        except ValueError:
                            raise MdxError(
                                "Percentile p must be a numeric literal"
                            ) from None
                        args = args[:1]
                    if len(args) != 1:
                        raise MdxError(
                            f"{mdx_name}(set) needs an explicit expression "
                            "argument in this subset — Aggregate(set) "
                            "covers the implicit-current-measure form"
                        )
                    e = _translate_stat_expr(args[0], set_key)
                    return _register_stat(
                        stat.fn, (e,), member_strs, arg, stat.nan, existing,
                        where_cond,
                    )
                # two-expression family (set, y[, x]); x defaults to the
                # member's set position (the LinReg* single-expression form)
                if len(args) not in (1, 2):
                    raise MdxError(f"{mdx_name} takes (set, y[, x])")
                y = _translate_stat_expr(args[0], set_key)
                x = (
                    _translate_stat_expr(args[1], set_key)
                    if len(args) == 2
                    else "__setrank"
                )
                return _register_stat(
                    stat.fn, (y, x), member_strs, arg, stat.nan, existing,
                    where_cond,
                )

            return repl

        out = rewrite_calls(
            out, {name: _setstat_handler(name) for name in _SETSTAT}
        )

        # ---- GENERATE in VALUE expressions -----------------------------
        # (jar!mondrian/olap/fun/GenerateFunDef; reference WITH MEMBER
        # texts /root/reference/test/mondrian_test.rb:491-517.)  Two modes:
        #   * SetToStr(Generate(set, <member expr>[, ALL])) — the member
        #     form stringified: folds to a constant at translation time
        #     (the set's member list is metadata);
        #   * Generate(set, <string expr>[, '<sep>']) — the string form:
        #     per-member evaluation + ordered concat, lowered onto the
        #     set-statistic sub-plan (fn 'genconcat', ordered by the
        #     member's __setrank hierarchy position).
        def _set_iteration_scope(member_strs, what: str):
            """(dimension, leaf level index) every set member shares —
            the Generate iteration context."""
            dim = None
            depth = None
            for mstr in member_strs:
                ref = resolve(self.cube, mstr)
                if dim is None:
                    dim, depth = ref.dimension, ref.depth
                elif (
                    ref.dimension.name != dim.name or ref.depth != depth
                ):
                    raise MdxError(
                        f"{what}: all set members must share one "
                        "dimension and level"
                    )
            return dim, depth

        def _translate_generate_expr(
            raw: str, dim, depth: int, set_key: tuple
        ) -> str:
            """The string expression, per-member: inline WITH-member
            formulas (their CurrentMember text must bind to the ITERATED
            set, not the query axes), rewrite the set dimension's
            CurrentMember properties onto the set level's member column,
            then translate the remainder."""
            for cm in self.q._with:
                pat = (
                    r"\[Measures\]\s*\.\s*\["
                    + r"\s+".join(re.escape(p) for p in cm.name.split())
                    + r"\]"
                )
                raw = sub_code(
                    pat,
                    lambda _m, _e=self._with_mdx.get(
                        cm.name.lower(), cm.expression
                    ): "(" + _e + ")",
                    raw,
                    re.I,
                )

            def level_of(cur_dim):
                if cur_dim.name != dim.name:
                    raise MdxError(
                        f"Generate(string form): CurrentMember of "
                        f"[{cur_dim.name}] — only the iterated set's "
                        f"dimension ({dim.name}) is current inside the "
                        "expression"
                    )
                return dim.levels[depth]

            raw = lower_member_properties(
                raw, self.cube, level_of, self.engine.fact.sparkSession
            )
            if current_members(self.cube, raw):
                raise MdxError(
                    "Generate(string form): a bare CurrentMember is a "
                    "MEMBER expression — wrap the call in SetToStr for "
                    "the set-returning form"
                )
            return _translate_stat_expr(raw, set_key)

        def _generate_members(text: str, what: str) -> list[str]:
            sb = self._formula_set(text)
            if sb is None:
                raise MdxError(
                    f"{what}: the first argument must be a set ({{…}} or "
                    "<level>.Members)"
                )
            return self._plain_members(sb, what)

        def repl_generate_string(parts: list[str]):
            if len(parts) not in (2, 3):
                return None
            member_strs = _generate_members(parts[0], "Generate")
            sep = ""
            if len(parts) == 3:
                if not re.fullmatch(_LITERAL, parts[2]):
                    raise MdxError(
                        "Generate separator must be a string literal"
                    )
                sep = _unquote(parts[2])
            dim, depth = _set_iteration_scope(
                member_strs, "Generate(string form)"
            )
            expr_sql = _translate_generate_expr(
                parts[1], dim, depth, _set_key((member_strs, None))
            )
            # member-metadata expressions (no measure/calc references)
            # evaluate over the MEMBER LIST, not a fact sub-aggregate:
            # Mondrian iterates the set's members whether or not fact
            # rows exist, and the list frame costs zero fact scans — the
            # reference tests' own shape ([Gender].CurrentMember.Name).
            # Measure-referencing expressions keep the set-statistic
            # sub-plan (fact values need the fact).
            # a WITH member's out may textually equal a set-dim LEVEL
            # column (the reference's own '[Measures].[Gender name]' idiom
            # snakes to the gender level's out): after the inline pass a
            # bracketed WITH reference is gone, so a remaining token that
            # names a set-dim level column IS the level column — exclude
            # those outs or the metadata path would never fire.  Cube
            # validation forbids measure/calc outs colliding with level
            # outs, so only the WITH list needs the exclusion.
            set_level_outs = {lv.out for lv in dim.levels}
            refs = set(references(expr_sql))
            refs_data = any(
                o.lower() in refs
                for o in (
                    *(m.out for m in self.cube.measures),
                    *(c.out for c in self.cube.calculated_members),
                    *(
                        c.out
                        for c in self.q._with
                        if c.out not in set_level_outs
                    ),
                )
            )
            if not refs_data:
                vals: list[str] = []
                try:
                    for mstr in member_strs:
                        ref = resolve(self.cube, mstr)
                        rows = (
                            self.engine.level_members(
                                ref.dimension.name, ref.depth, path=ref.path
                            )
                            .selectExpr(
                                f"cast(({expr_sql}) as string) AS __g"
                            )
                            .collect()
                        )
                        vals.extend(
                            r["__g"] for r in rows if r["__g"] is not None
                        )
                except Exception:
                    vals = None  # un-analyzable over the list — fall back
                if vals is not None:
                    return _sql_literal(sep.join(vals))
            # ordering key: Mondrian iterates the set AS WRITTEN
            # (test/mondrian_test.rb:491-517 iteration order) — for an
            # explicit member list the written position is known at
            # translation time and rides into the sub-aggregate as a CASE
            # over the member's full level path (no __setrank broadcast
            # join needed); whole-level sets (.Members/.Children) keep the
            # hierarchy rank, which IS their written order
            order_expr = "__setrank"
            resolved = [
                resolve(self.cube, mstr) for mstr in member_strs
            ]
            if all(r.kind == "member" and r.path for r in resolved):
                whens = []
                for i, r in enumerate(resolved):
                    pred = " AND ".join(
                        "cast({} as string) = '{}'".format(
                            lv.out, str(k).replace("'", "''")
                        )
                        for lv, k in zip(r.dimension.levels, r.path)
                    )
                    whens.append(f"WHEN {pred} THEN {i}")
                order_expr = (
                    "CASE " + " ".join(whens) + f" ELSE {len(resolved)} END"
                )
            return _register_stat(
                "genconcat", (expr_sql, order_expr), member_strs, sep, False
            )

        def set_udf_str(args: list[str], open_: str, close: str):
            # SetToStr / TupleToStr over a registered set UDF
            # (schema_definition_test.rb:1111-1138 'user defined functions
            # with a member set / tuple result'): the registered function
            # resolves at translation time (it receives the engine, not row
            # context), so the result is a string CONSTANT.  Zero-arg form
            # only: context-dependent sets (CurrentMember arguments) are
            # per-row and out of this subset.
            from .udf import set_function

            call = len(args) == 1 and re.fullmatch(
                r"([A-Za-z_]\w*)\s*\(\s*\)", args[0]
            )
            fn = set_function(call.group(1)) if call else None
            if fn is None:
                return None
            return _sql_literal(open_ + ", ".join(fn(self.engine)) + close)

        def repl_settostr(args: list[str]):
            parts = _call_args(args[0], "generate") if len(args) == 1 else None
            if parts is None:
                return set_udf_str(args, "{", "}")
            all_flag = len(parts) >= 3 and parts[-1].strip().lower() == "all"
            if all_flag:
                parts = parts[:-1]
            if len(parts) != 2:
                raise MdxError(
                    "SetToStr(Generate(...)) takes (set, member expr"
                    "[, ALL])"
                )
            member_strs = _generate_members(
                parts[0], "SetToStr(Generate(...))"
            )
            dim, depth = _set_iteration_scope(
                member_strs, "SetToStr(Generate(...))"
            )
            mexpr = parts[1].strip()
            cur = current_member(self.cube, mexpr)
            unames: list[str] = []
            if cur is not None and cur[1] == len(mexpr):
                if cur[0].name != dim.name:
                    raise MdxError(
                        f"SetToStr(Generate(...)): CurrentMember of "
                        f"[{cur[0].name}] — only the iterated set's "
                        f"dimension ({dim.name}) is current inside the "
                        "expression"
                    )
                # identity: the generated set IS the set, in set order
                for mstr in member_strs:
                    ref = resolve(self.cube, mstr)
                    if ref.kind in ("children", "level_members"):
                        outs = [
                            lv.out for lv in ref.dimension.levels[
                                : ref.depth + 1
                            ]
                        ]
                        for row in self.engine.level_members(
                            ref.dimension.name, ref.depth, path=ref.path
                        ).collect():
                            unames.append(
                                format_name(
                                    [dim.name]
                                    + [str(row[o]) for o in outs]
                                )
                            )
                    else:
                        unames.append(
                            format_name([dim.name, *ref.path])
                        )
            elif re.fullmatch(_ID_CHAIN, mexpr):
                # a FIXED member: Generate yields it once per set member
                ref = resolve(self.cube, mexpr)
                fixed = format_name([ref.dimension.name, *ref.path])
                unames = [fixed] * _set_member_count(member_strs)
            else:
                raise MdxError(
                    "SetToStr(Generate(set, member)): the member "
                    "expression must be <dim>.CurrentMember or a fixed "
                    "member in this subset"
                )
            if not all_flag:  # Generate default: duplicates removed
                unames = list(dict.fromkeys(unames))
            return _sql_literal("{" + ", ".join(unames) + "}")

        # SetToStr first: its handler reads the Generate call it wraps
        out = rewrite_calls(
            out,
            {
                "settostr": repl_settostr,
                "tupletostr": lambda args: set_udf_str(args, "(", ")"),
            },
        )
        out = rewrite_calls(out, {"generate": repl_generate_string})

        # VBA/Excel functions, after the passes above so that the
        # sub-expressions they translate again still hold MDX: every call
        # is lowered exactly once
        out = rewrite_calls(out, _VBA_EXCEL)

        def repl_tuple(m: re.Match) -> str:
            # tuple scalar ([Measures].[X], [Dim].[M], …): the cell value
            # of X with the listed dimensions' context overridden
            # (mondrian_test.rb:361-380).  Lowered to a synthetic column;
            # the planner attaches it via a member-scoped sub-aggregate
            # broadcast-joined onto the grid (plan._attach_tuple_scalar).
            parts = re.findall(_ID_CHAIN, m.group(0))
            measure_name = None
            members: list[str] = []
            for p in parts:
                segs = parse_identifier(p)
                if segs[0].lower() == "measures":
                    if measure_name is not None:
                        raise MdxError(
                            "tuple has more than one Measures component"
                        )
                    if len(segs) != 2:
                        raise MdxError(f"bad measure reference in tuple: {p}")
                    measure_name = segs[1]
                else:
                    members.append(p)
            if not members:
                return m.group(0)  # ([Measures].[X]) — plain parenthesized
            # implicit current measure (no [Measures] component): the
            # Measures hierarchy's default member resolves the context,
            # like Mondrian's unpinned-Measures evaluation (Cube
            # defaultMeasure — schema.rb:61; falls back to the first
            # stored measure).  measure_name None is the marker; the
            # query layer substitutes cube.default_measure_obj().
            return _intern(
                self.q._tuple_scalars, "__tuple", measure_name, tuple(members)
            )

        # the lookbehind keeps function CALLS out: in ``Fn([A].[B], [C].[D])``
        # the char before ``(`` is part of the function name, so the
        # parenthesized argument list is not a tuple literal.  Single-member
        # tuples ``([Gender].[F])`` lower too (implicit current measure);
        # ``([Measures].[X])`` falls through repl_tuple unchanged.
        out = sub_code(
            rf"(?<![\w\]])\(\s*{_ID_CHAIN}(?:\s*,\s*{_ID_CHAIN})*\s*\)",
            repl_tuple,
            out,
        )

        def repl_measure(m: re.Match) -> str:
            name = m.group(1).replace("]]", "]")
            try:
                return self.cube.measure(name).out
            except KeyError:
                for cm in self.q._with:
                    if cm.name.lower() == name.lower():
                        return cm.out
                # WITH entries parse in order, but a formula may reference a
                # calc member DEFINED LATER in the same clause
                # (mondrian_test.rb:580-590 parent-before-child): scan the
                # raw statement and emit the alias the later with_member
                # will produce — the planner's calc chain orders by the
                # dependency DAG, so evaluation order is still correct
                from .model import _snake

                defining = getattr(self, "_defining_measure", None)
                if defining and defining.lower() == name.lower():
                    raise MdxError(
                        f"Infinite loop while evaluating calculated member "
                        f"'[Measures].{quote_segment(name)}'"
                    )
                later_def = (
                    r"(?is)\bmember\s+\[Measures\]\s*\.\s*\["
                    + re.escape(name)
                    + r"\]\s*as\b"
                )
                if re.search(later_def, self.src or ""):
                    return _snake(name)
                # exact reference root-cause shape (query_test.rb:779-780)
                raise MdxError(
                    f"MDX object '[Measures].{quote_segment(name)}' not "
                    f"found in cube '{self.cube.name}'"
                )

        out = sub_code(measure_ref, repl_measure, out)

        def _rewrite_matches(text: str) -> str:
            # X [NOT] MATCHES pattern as a VALUE expression
            # (mondrian_test.rb:556-579; jar!mondrian/olap/fun/fun resource
            # MATCHES operator): regex match with NULL-as-false semantics —
            # a NULL operand yields false (true under NOT), and numeric
            # operands coerce to string.  Runs AFTER measure rewriting so
            # the left operand is an alias/parenthesized expr/literal.
            def left_operand(s: str, end: int) -> int:
                i = len(s[:end].rstrip())
                opens: list[int] = []
                for t in _PAREN_RE.finditer(s, 0, i):
                    if t.group() == "(":
                        opens.append(t.start())
                    elif t.group() == ")":
                        top = opens.pop() if opens else 0
                        if t.end() == i:  # a group, with its function name
                            i = top
                            break
                    elif t.end() == i:  # a literal
                        return t.start()
                while i > 0 and (s[i - 1].isalnum() or s[i - 1] in "_."):
                    i -= 1
                return i

            def right_operand(s: str, start: int) -> int:
                i = len(s) - len(s[start:].lstrip())
                t = _PAREN_RE.match(s, i)
                if t is not None and t.group() != ")":
                    if t.group() != "(":  # a literal
                        return t.end()
                    return min(_scan(s, i + 1, {}, True)[1] + 1, len(s))
                while i < len(s) and (s[i].isalnum() or s[i] in "_."):
                    i += 1
                # a function-call pattern (Trim(p)): absorb the argument list
                k = len(s) - len(s[i:].lstrip())
                if k < len(s) and s[k] == "(":
                    return min(_scan(s, k + 1, {}, True)[1] + 1, len(s))
                return i

            while m2 := search_code(r"\b(NOT\s+)?MATCHES\b", text, re.I):
                ls = left_operand(text, m2.start())
                re_end = right_operand(text, m2.end())
                left = text[ls : m2.start()].strip()
                right = text[m2.end() : re_end].strip()
                if not left or not right:
                    raise MdxError("MATCHES needs two operands")
                # Mondrian's MATCHES is java.util.regex Matcher.matches() —
                # a FULL match, not rlike's substring search — so anchor
                # the pattern
                repl = (
                    f"coalesce(rlike(cast(({left}) as string), "
                    f"concat('^(?:', {right}, ')$')), false)"
                )
                if m2.group(1):
                    repl = f"(not {repl})"
                text = text[:ls] + repl + text[re_end:]
            return text

        out = _rewrite_matches(out)
        out = sub_code(r"<>", lambda m: "!=", out)
        # COALESCEEMPTY → coalesce (first non-empty; CoalesceEmptyFunDef).
        # Type discipline for the mondrian_test.rb:532-543 mixed-type
        # matrix: a LITERAL argument (number or string) is provably
        # non-empty, so every later branch is DEAD — truncate there.  This
        # reproduces the reference's per-branch typing exactly for the
        # matrix: CoalesceEmpty(123, 'dummy') = 123 AS A NUMBER (single
        # live branch, no coalesce emitted, native type kept) and
        # CoalesceEmpty(CASE WHEN 1=2 THEN 1 END, 'dummy') = 'dummy'.
        # Residual deviation (documented, pinned by test): when a
        # NON-constant numeric branch mixes with a string branch and both
        # can win on different rows, a Spark column is monotyped — the
        # args unify as strings (the one lossless common type), where the
        # reference keeps the winning branch's own type per cell.
        def repl_coalesceempty(args: list[str]):
            if not args:
                return None
            for i, a in enumerate(args):
                if re.fullmatch(
                    _LITERAL + r"|[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", a
                ):
                    args = args[: i + 1]  # later branches are dead
                    break
            if len(args) == 1:
                return args[0]  # single live branch: native type
            is_str = [bool(re.fullmatch(_LITERAL, a)) for a in args]
            if any(is_str) and not all(is_str):
                args = [
                    a if s else f"cast(({a}) as string)"
                    for a, s in zip(args, is_str)
                ]
            return "coalesce(" + ", ".join(args) + ")"

        # Cache(expr) (jar!mondrian/olap/fun/CacheFunDef): transparent for
        # values — unwrap and evaluate; the wrapper sets the query's cache
        # hint so the evaluated grid persists (intra-result reuse; the
        # engine aggregate cache covers cross-query reuse when enabled)
        def repl_cache(args: list[str]) -> str:
            self.q._cache_hint = True
            return "(" + ", ".join(args) + ")"

        # IsDirty(): cache-dirty introspection (mondrian_test.rb:241-247).
        # Aggregates here are always (re)computed from consistent source
        # snapshots — a cell is never served from a stale segment — so the
        # honest answer is constant false, matching the reference's expected
        # value on a clean cache.  IIF(cond, a, b) → Spark if(); CASE WHEN …
        # THEN … END is shared syntax and passes through untouched
        # (jar!mondrian/olap/fun/IifFunDef, CaseTestFunDef)
        return rewrite_calls(
            out,
            {
                "coalesceempty": repl_coalesceempty,
                "cache": repl_cache,
                "isdirty": lambda args: None if args else "false",
                "iif": lambda args: "if(" + ", ".join(args) + ")",
            },
        )


def _op_expr(op: tuple) -> str | None:
    """The measure expression a set op reads: a FILTER condition, an
    ORDER key or a TOPCOUNT-family expression (None for other ops)."""
    if op[0] in ("filter", "order"):
        return op[1]
    return op[4] if op[0] == "topbottom" else None


@dataclass
class _SetBuild:
    base: list[str]
    #: whole-set operation descriptors, applied in order
    ops: list = None
    #: computed sets (:class:`~.query.SetExpr`) written as CROSSJOIN
    #: arguments — each evaluated once against its own members in the
    #: slicer context, its op chain whole
    set_ops: list = None
    #: named-set name when this build came from one — enables
    #: ``Name.Current`` self-references in enclosing FILTERs
    alias: str | None = None
    #: parse_set read one member (a bare path, Parent, FirstChild…,
    #: Ancestor, Cousin): a set of one on an axis, "not a set" in a formula
    member: bool = False

    def __post_init__(self):
        if self.ops is None:
            self.ops = []
        if self.set_ops is None:
            self.set_ops = []


def _on_current(members: list[str]) -> bool:
    """True when a member string of ``members`` navigates from a
    CurrentMember (a bare ``CurrentMember`` segment): its members change
    with the evaluation context."""
    return any(
        not quoted and seg.lower() == "currentmember"
        for m in members
        for seg, quoted in parse_identifier_tagged(m)
    )


def _strip_segments(member_with_suffix: str, n: int) -> list[str]:
    """Drop the last ``n`` segments quote-AWARELY (a naive rsplit on '.'
    would cut inside bracketed keys like ``[J. Smith]``)."""
    segs = parse_identifier(member_with_suffix)
    return segs[: len(segs) - n]


def _parent_of(member_with_suffix: str) -> str:
    """``[Dim].[a].[b].Parent`` → ``[Dim].[a]``; root members have no
    parent (ParentFunDef — the All member is implicit here)."""
    segs = _strip_segments(member_with_suffix, 2)  # .Parent + own key
    if len(segs) < 2:
        raise MdxError(f"{member_with_suffix!r}: root members have no parent")
    return format_name(segs)


def _segment(t: Tok) -> str:
    if t.kind == "bracket":
        return t.text[1:-1].replace("]]", "]")
    if t.kind == "word":
        return t.text
    raise MdxError(f"expected identifier at {t.pos}, got {t.text!r}")


def _unquote(s: str) -> str:
    """The body of a string literal: a single-quoted one doubles its
    quote to escape it, a double-quoted one has no escape."""
    return s[1:-1].replace("''", "'") if s[0] == "'" else s[1:-1]


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return repr(v)


def _parse_literal(s: str):
    s = s.strip()
    if s.startswith("'") or s.startswith('"'):
        return s[1:-1]
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def execute_mdx(engine, mdx: str, parameters: dict | None = None):
    """Parse and execute an MDX string against a cube engine — the
    ``connection.execute(mdx, params)`` surface (connection.rb:75-86,
    :498-520 setParameter).

    A ``DRILLTHROUGH …`` statement returns the fact-row DataFrame
    (connection.rb:95-100 execute_drill_through); a SELECT returns a
    :class:`~mondrian_olap_spark.result.Result`.
    """
    q, drill = MdxParser(engine, mdx, parameters).parse_statement()
    if drill is None:
        return q.execute()
    max_rows, fields = drill
    from .plan import Planner

    # cell context = every constrained member reference in the statement
    # (axis member paths + slicer)
    refs = list(q._slicer)
    for ax in q._axes.values():
        refs.extend(ref for ref in ax.sets if ref.path)
    return Planner(engine).drill_through(refs, fields, max_rows=max_rows)
