"""InfluxQL → DataFrame compiler (reference-user query parity).

The reference's analytical surface IS InfluxQL — its users point
Grafana at InfluxDB 1.7 and issue ``SELECT mean(value) FROM <measure>
WHERE time >= … GROUP BY time(5m) fill(previous)`` (README.md:3,
98-100). To let such a user switch engines without rewriting their
dashboards' queries, this module compiles the InfluxQL subset the
reference deployment exercises into the engine's DataFrame operators:

    SELECT <agg>(field) [AS alias][, ...] | <field|*>
         | <xform>(<agg>(field)[, arg])    -- Grafana's nested transforms
         | <xform>(field[, arg])           -- raw-series transforms
         | <item> *|/|+|- <number>         -- unit-conversion math
         | <agg>(f1) *|/|+|- <agg>(f2) | f1 *|/|+|- f2   -- field arithmetic
    [INTO <target>]                        -- compile_into / CQ backfill
    FROM <identifier>[, <identifier> ...] | /regex/ | (SELECT ...)
    [WHERE time <op> 'ts' | now()[-dur] | <epoch>[ns|u|ms|s]
           [AND <tag> =|!= 'v' | <tag> =~|!~ /re/ | <field> <op> <num>
            | (<cond> OR <cond> ...) ...]]   -- Grafana multi-value vars
    [GROUP BY time(<N><u>[, offset])[, <tag> ... | *]]
        [fill(previous|linear|none|null|<num>)]
    [ORDER BY time DESC|ASC]
    [LIMIT n] [OFFSET n] [SLIMIT n] [SOFFSET n] [tz('Zone')]

Aggregates: count, sum, mean, min, max, first, last, spread, median,
stddev, mode, integral(unit), distinct, count(distinct(f)),
percentile(f, p), top(f, n), bottom(f, n), sample(f, n). Transforms (InfluxDB
"transformations", applied per series AFTER the inner aggregation when
nested): derivative, non_negative_derivative, difference,
non_negative_difference, moving_average, cumulative_sum, elapsed.
Math transformations (one-argument, per output value, raw field or
aggregate): abs, ceil, floor, round, sqrt, exp, ln, log2, log10, sin,
cos, tan, asin, acos, atan — `abs(value)`, `sqrt(mean(value))`.
Predictor: holt_winters(agg(field), N, S) — N forecast buckets past
the last GROUP BY time() bucket per series, additive-seasonal
Holt-Winters with pinned α/β/γ (InfluxDB's Nelder-Mead fit replaced by
deterministic constants — documented deviation);
holt_winters_with_fit() also emits the one-step-ahead fitted value at
each observed bucket before the forecasts.
Wildcard aggregates: ``mean(*)`` expands to one output column per
numeric field, named ``<alias>_<field>`` as InfluxDB does;
``mean(/re/)`` expands to the regex-matched fields only.
Meta statements (compile_show): SHOW MEASUREMENTS / FIELD KEYS / TAG
KEYS / TAG VALUES / SERIES / DATABASES / RETENTION POLICIES, each with
[EXACT] CARDINALITY and LIMIT variants; retention
(compile_delete): DELETE FROM / DROP MEASUREMENT. Supported units:
s/m/h/d/w. A parse failure raises ``InfluxQLError`` with the offending
clause — no silent fallback.

The compiler is deliberately a ~tiny recursive regex grammar, not a
full parser: InfluxQL's reference-relevant subset is flat (single
measurement, conjunctive WHERE, one GROUP BY time) — matching the
queries the reference's Grafana dashboards actually emit.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class InfluxQLError(ValueError):
    pass


_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}

_AGGS = {
    "count": lambda c: F.count(c),
    "sum": lambda c: F.sum(c),
    "mean": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "first": lambda c: F.min_by(c, "ts"),
    "last": lambda c: F.max_by(c, "ts"),
    "spread": lambda c: F.max(c) - F.min(c),
    "median": lambda c: F.median(c),
    "stddev": lambda c: F.stddev_samp(c),
    # InfluxDB MODE() returns the most frequent value, lowest on ties —
    # Spark's deterministic mode has exactly that tie-break.
    "mode": lambda c: F.mode(c, True),
    "count_distinct": lambda c: F.count_distinct(c),
}

# Transformations (InfluxDB terminology): consume an ordered series —
# either the raw points or the GROUP BY time() aggregate buckets — and
# emit a derived series. Window math per series; lag-based ones emit
# n-1 rows like InfluxDB.
_TRANSFORMS = (
    "derivative",
    "non_negative_derivative",
    "difference",
    "non_negative_difference",
    "moving_average",
    "cumulative_sum",
    "elapsed",
) + (
    # InfluxQL 1.8 technical-analysis suite — iterative folds executed
    # as ONE Arrow-batched applyInPandas pass per statement (see
    # _apply_ta); per-function emission rules documented there
    "exponential_moving_average",
    "double_exponential_moving_average",
    "triple_exponential_moving_average",
    "triple_exponential_derivative",
    "relative_strength_index",
    "chande_momentum_oscillator",
    "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average",
)

_TA_FNS = frozenset(_TRANSFORMS[7:])

# InfluxDB 1.8 one-argument math transformations — applied to each
# output value, either a raw field (`abs(value)`) or an aggregate
# (`sqrt(mean(value))`). ceil/floor return BIGINT in Spark but FLOAT in
# InfluxDB (and DOUBLE in DuckDB) — cast back to double.
_MATH_FNS = {
    "abs": F.abs,
    "ceil": lambda c: F.ceil(c).cast("double"),
    "floor": lambda c: F.floor(c).cast("double"),
    "round": F.round,
    "sqrt": F.sqrt,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
}

# InfluxDB's two-argument math transformations with a numeric second
# argument: LOG(field, b) = log base b, POW(field, x), ATAN2(field, x)
# = atan2(field_value, x).
_MATH2_FNS = {
    "log": lambda c, k: F.log(k, c),
    "pow": lambda c, k: F.pow(c, F.lit(k)),
    "atan2": lambda c, k: F.atan2(c, F.lit(k)),
}


#: one duration token; multi-char units first so 'ms' beats 'm'+'s'
_DUR_TOKEN_RE = re.compile(
    r"(\d+(?:\.\d+)?)(ns|us|ms|µ|u|s|m|h|d|w)", re.IGNORECASE
)
_SUBSEC = {"ns": 1e-9, "us": 1e-6, "u": 1e-6, "µ": 1e-6, "ms": 1e-3}
#: a full (possibly compound) duration literal: 90m, 1h30m, 1d12h
_DUR_RE_SRC = r"(?:\d+(?:\.\d+)?(?:ns|us|ms|µ|u|s|m|h|d|w))+"


def _compound_duration_s(txt: str) -> float:
    """InfluxQL duration literal → seconds, including compound forms
    ('1h30m', '1d12h') and sub-second units."""
    pos, total = 0, 0.0
    for m in _DUR_TOKEN_RE.finditer(txt):
        if m.start() != pos:
            raise InfluxQLError(f"bad duration {txt!r}")
        pos = m.end()
        unit = m.group(2).lower()
        total += float(m.group(1)) * (
            _SUBSEC.get(unit) or _UNIT_SECONDS[unit]
        )
    if pos != len(txt) or pos == 0:
        raise InfluxQLError(f"bad duration {txt!r}")
    return total


def _duration_s(arg: str | None, default: float = 1.0) -> float:
    """'10s'/'1m'/'2h'/'1h30m' → seconds; bare number → seconds."""
    if arg is None:
        return default
    m = re.match(r"^([\d.]+)([smhdw]?)$", arg)
    if m:
        return float(m.group(1)) * _UNIT_SECONDS.get(m.group(2), 1)
    return _compound_duration_s(arg)


def _numeric(tok: str, fn: str) -> float:
    """Convert a parsed argument token to float, mapping failures to
    InfluxQLError so one malformed statement can't escape the gateway's
    per-statement error isolation as a bare ValueError (e.g.
    ``pow(mean(value), 2h)`` — the arg regexes admit duration tokens)."""
    try:
        return float(tok)
    except (TypeError, ValueError):
        raise InfluxQLError(
            f"{fn}() requires a numeric argument, got {tok!r}"
        ) from None


def _int_period(tok: str, fn: str) -> int:
    """Validate an N-period argument as a whole number. InfluxDB 1.x
    rejects fractional periods for window/TA transforms; truncating
    ``exponential_moving_average(value, 2.5)`` to period 2 would be a
    silent wrong answer, so error in-band instead."""
    v = _numeric(tok, fn)
    if v != int(v):
        raise InfluxQLError(
            f"{fn}() period must be an integer, got {tok!r}"
        )
    return int(v)


def _percentile_nearest_rank(c, p: float):
    """InfluxDB percentile(): the nearest-rank sample — an actually-
    observed value, no interpolation (deterministic cross-engine,
    unlike Spark's interpolating percentile)."""
    arr = F.array_sort(F.collect_list(c))
    idx = F.greatest(
        F.ceil(F.lit(p / 100.0) * F.size(arr)).cast("int"), F.lit(1)
    )
    return F.get(arr, idx - 1)


def _agg_expr(fn: str, colname: str, arg: float | None):
    if fn is None:
        # raw (non-aggregate) items can't be folded into a grouped
        # aggregate — surface the documented error, never a KeyError
        raise InfluxQLError(
            "raw (non-aggregate) select items cannot combine with "
            "GROUP BY time()"
        )
    if fn == "percentile":
        if arg is None:
            raise InfluxQLError("percentile() requires a second argument")
        return _percentile_nearest_rank(F.col(colname), arg)
    return _AGGS[fn](F.col(colname))

_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)"
    r"\s+FROM\s+(?P<from>(?:\"[^\"]+\"|[\w.])+"
    r"(?:\s*,\s*(?:\"[^\"]+\"|[\w.])+)*|/[^/]*/)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<groupby>.+?))?"
    r"(?:\s+ORDER\s+BY\s+time\s+(?P<order>ASC|DESC))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?(?:\s+OFFSET\s+(?P<offset>\d+))?"
    r"(?:\s+SLIMIT\s+(?P<slimit>\d+))?(?:\s+SOFFSET\s+(?P<soffset>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_AGG_ITEM_RE = re.compile(
    r"^(?P<fn>\w+)\s*\(\s*(?P<arg>[\w\"*]+|/[^/]*/)\s*"
    r"(?:,\s*(?P<n>[\d.]+[smhdw]?)\s*)?\)(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
# three-argument selector: top(field, tag, N) / bottom(field, tag, N) —
# InfluxDB's "greatest/least field values across N distinct tag values"
_SELECTOR3_RE = re.compile(
    r"^(?P<fn>top|bottom)\s*\(\s*(?P<arg>[\w\"]+)\s*,"
    r"\s*(?P<tag>[\w\"]+)\s*,\s*(?P<n>\d+)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
_SCALAR_ALIAS_RE = re.compile(r"\s+AS\s+(\w+)\s*$", re.IGNORECASE)
_CALL_START_RE = re.compile(r"\w+\(")


def _find_call(s: str):
    """(start, end) of the first balanced fn(...) call in s, or None."""
    m = _CALL_START_RE.search(s)
    if not m:
        return None
    depth, i = 0, m.end() - 1
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return m.start(), i + 1
        i += 1
    return None


def _parse_scalar_expr(item: str):
    """Detect scalar arithmetic around ONE aggregate/field operand —
    any literal order, parenthesization, unary minus: `mean(v)*9/5+32`,
    `100 * mean(v)`, `(mean(v)*9/5)+32`, `-mean(v)`. Returns
    (base_str, ast, alias|None) or None if the item isn't this shape.
    AST: ('base',) | ('num', x) | ('neg', a) | ('+|-|*|/', l, r)."""
    am = _SCALAR_ALIAS_RE.search(item)
    alias = am.group(1) if am else None
    expr = item[: am.start()] if am else item
    span = _find_call(expr)
    if span is None:
        # bare-field arithmetic: exactly one quoted/bare identifier
        idents = [
            m
            for m in re.finditer(r'"[^"]+"|[A-Za-z_]\w*', expr)
            if not re.fullmatch(r"\d+", m.group())
        ]
        if len(idents) != 1:
            return None
        span = idents[0].span()
    base = expr[span[0] : span[1]]
    rest = expr[: span[0]] + "@" + expr[span[1] :]
    if re.search(r"\w+\(", rest) or re.search(r'"[^"]+"|[A-Za-z_]\w*', rest):
        return None  # a second operand → the binop paths own this item
    if not re.fullmatch(r"[\d\s.()+\-*/@]*", rest):
        return None
    if rest.strip() == "@":
        return None  # no arithmetic — plain item
    toks = re.findall(r"\d+\.\d+|\d+|[@()+\-*/]", rest)

    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_factor():
        t = peek()
        if t == "-":
            take()
            return ("neg", parse_factor())
        if t == "+":
            take()
            return parse_factor()
        if t == "(":
            take()
            node = parse_sum()
            if peek() != ")":
                raise InfluxQLError(f"unbalanced parens in {item!r}")
            take()
            return node
        if t == "@":
            take()
            return ("base",)
        if t is None or t in ")*/":
            raise InfluxQLError(f"malformed arithmetic in {item!r}")
        # ints stay ints so integer aggregates keep their wire type
        # (count(v) * 2 must stay bigint, not become 20.0)
        lit = take()
        return ("num", float(lit) if "." in lit or "e" in lit.lower() else int(lit))

    def parse_term():
        node = parse_factor()
        while peek() in ("*", "/"):
            node = (take(), node, parse_factor())
        return node

    def parse_sum():
        node = parse_term()
        while peek() in ("+", "-"):
            node = (take(), node, parse_term())
        return node

    ast = parse_sum()
    if pos != len(toks):
        raise InfluxQLError(f"malformed arithmetic in {item!r}")
    return base, ast, alias


def _eval_scalar_ast(ast, c):
    """AST → Column (numeric-only subtrees fold to plain floats; the
    Column's reflected operators handle float ⊕ Column)."""
    kind = ast[0]
    if kind == "base":
        return c
    if kind == "num":
        return ast[1]
    if kind == "neg":
        return -_eval_scalar_ast(ast[1], c)
    l = _eval_scalar_ast(ast[1], c)
    r = _eval_scalar_ast(ast[2], c)
    if kind == "+":
        return l + r
    if kind == "-":
        return l - r
    if kind == "*":
        return l * r
    return l / r
# field-vs-field arithmetic (Grafana efficiency/ratio panels):
# mean(a) + mean(b), value / other
_BINOP_AGG_RE = re.compile(
    r"^(?P<lfn>\w+)\s*\(\s*(?P<larg>[\w\"]+)\s*\)\s*(?P<op>[*/+-])\s*"
    r"(?P<rfn>\w+)\s*\(\s*(?P<rarg>[\w\"]+)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
_BINOP_RAW_RE = re.compile(
    r"^(?P<l>[\w\"]+)\s*(?P<op>[*/+-])\s*(?P<r>[\w\"]+)"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
_NESTED_ITEM_RE = re.compile(
    r"^(?P<ofn>\w+)\s*\(\s*(?P<ifn>\w+)\s*\(\s*(?P<arg>[\w\"]+)\s*"
    r"(?:,\s*(?P<iarg>[\d.]+)\s*)?\)\s*"
    r"(?:,\s*(?P<oarg>[\d.]+(?:[a-wyzµ][\d.a-wyzµ]*)?)\s*)?"
    # [\d.]+ not \d+: a fractional S must reach _int_period for the
    # specific "must be an integer" error, not the generic parse fail
    r"(?:,\s*(?P<oarg2>[\d.]+)\s*)?\)(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)
_TIME_COND_RE = re.compile(
    r"^time\s*(?P<op>>=|<=|>|<)\s*'(?P<ts>[^']+)'"
    rf"(?:\s*(?P<sign>[+-])\s*(?P<dur>{_DUR_RE_SRC}))?$",
    re.IGNORECASE,
)
_TIME_NOW_RE = re.compile(
    r"^time\s*(?P<op>>=|<=|>|<)\s*now\s*\(\s*\)"
    rf"(?:\s*(?P<sign>[+-])\s*(?P<dur>{_DUR_RE_SRC}))?$",
    re.IGNORECASE,
)
_TIME_EPOCH_RE = re.compile(
    r"^time\s*(?P<op>>=|<=|>|<)\s*(?P<n>\d+)(?P<u>ns|u|µ|ms|s)?$",
    re.IGNORECASE,
)
def _split_top(s: str, kw: str) -> list[str]:
    """Split ``s`` on keyword ``kw`` at paren depth 0, outside single
    quotes (case-insensitive, whitespace-delimited). The WHERE clause
    grammar needs this because Grafana's multi-value template variables
    emit parenthesized OR groups: ``("host" = 'a' OR "host" = 'b')``."""
    out, depth, i, start, n = [], 0, 0, 0, len(s)
    kwl, L = kw.lower(), len(kw)
    in_quote = False
    while i < n:
        ch = s[i]
        if in_quote:
            if ch == "'":
                in_quote = False
        elif ch == "'":
            in_quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and s[i : i + L].lower() == kwl
            and i > 0
            and s[i - 1].isspace()
            and i + L < n
            and s[i + L].isspace()
        ):
            out.append(s[start:i])
            i += L
            start = i
            continue
        i += 1
    out.append(s[start:])
    return [p.strip() for p in out if p.strip()]


def _strip_outer_parens(cond: str) -> str:
    """Remove balanced outer parens: ``("host" = 'a')`` → ``"host" = 'a'``
    (Grafana wraps every builder-generated condition in parens).

    Parens inside single-quoted values (``"x" = ')'``) don't count
    toward depth — same quote-aware scan as ``_split_top``."""
    cond = cond.strip()
    while cond.startswith("(") and cond.endswith(")"):
        depth = 0
        in_quote = False
        for i, ch in enumerate(cond):
            if ch == "'":
                in_quote = not in_quote
            elif in_quote:
                continue
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(cond) - 1:
                    return cond  # parens don't span the whole string
        if in_quote or depth != 0:
            return cond  # unbalanced / quote-spanning — leave as-is
        cond = cond[1:-1].strip()
    return cond


_TAG_COND_RE = re.compile(
    r"^(?P<key>[\w\"]+)\s*=\s*'(?P<val>[^']*)'$"
)
_TAG_NEQ_RE = re.compile(
    r"^(?P<key>[\w\"]+)\s*!=\s*'(?P<val>[^']*)'$"
)
_TAG_REGEX_RE = re.compile(
    r"^(?P<key>[\w\"]+)\s*(?P<op>=~|!~)\s*/(?P<val>[^/]*)/$"
)
_FIELD_COND_RE = re.compile(
    r"^(?P<key>[\w\"]+)\s*(?P<op>>=|<=|>|<|!=|=)\s*(?P<num>-?[\d.]+)$"
)
_GB_TIME_RE = re.compile(
    rf"^time\s*\(\s*(?P<dur>{_DUR_RE_SRC})\s*"
    rf"(?:,\s*(?P<odur>{_DUR_RE_SRC})\s*)?\)$",
    re.IGNORECASE,
)
_TZ_RE = re.compile(r"\s+tz\s*\(\s*'(?P<tz>[^']+)'\s*\)\s*$", re.IGNORECASE)
_FILL_RE = re.compile(
    r"\s+fill\s*\(\s*(?P<mode>previous|linear|none|null|[-\d.]+)\s*\)\s*$",
    re.IGNORECASE,
)


def _unquote(s: str) -> str:
    return s[1:-1] if len(s) >= 2 and s[0] == '"' and s[-1] == '"' else s


# patterns the session JVM has already accepted — one Pattern.compile
# py4j round-trip per DISTINCT pattern, not one per call site (the
# field-expansion comprehensions used to re-validate per column)
_JVM_REGEX_OK: set = set()


def _user_regex(pattern: str, jvm_side: bool = True) -> str:
    """Validate a user-supplied /regex/ body; a malformed pattern must
    surface as InfluxQLError (the gateway's per-statement error
    payload), never a bare re.error or a runtime AnalysisException
    from rlike.

    Execution is split-engine: measurement/tag regexes run JVM-side
    via ``rlike`` (java.util.regex), field-name projections Python-side
    via ``re.search``. Only the rlike-destined patterns
    (``jvm_side=True``) must ALSO compile under java.util.regex —
    Python-only syntax like ``(?P<name>...)`` passes ``re.compile``
    but would throw a raw Py4J PatternSyntaxException inside a Spark
    job, escaping the gateway's per-statement error isolation.
    Field-name projections execute purely in Python, so they keep the
    wider Python syntax (``jvm_side=False``) — real InfluxDB (Go RE2)
    accepts ``(?P<name>...)`` there. (No active session — plain
    library use — degrades to the Python-only check.)"""
    try:
        re.compile(pattern)
    except re.error as exc:
        raise InfluxQLError(f"invalid regex /{pattern}/: {exc}") from None
    if not jvm_side or pattern in _JVM_REGEX_OK:
        return pattern
    # getActiveSession is THREAD-local and the HTTP gateway validates
    # inside server worker threads — fall back to the process-wide
    # default session so the JVM check still runs there.
    spark = SparkSession.getActiveSession()
    if spark is None:
        try:
            spark = SparkSession.active()
        except Exception:
            spark = None
    if spark is not None:
        try:
            jvm = spark._jvm
        except Exception:
            jvm = None  # e.g. Spark Connect: no JVM bridge; rely on re
        if jvm is not None:
            try:
                jvm.java.util.regex.Pattern.compile(pattern)
            except Exception as exc:
                # pyspark maps java PatternSyntaxException (an
                # IllegalArgumentException) to a Python
                # IllegalArgumentException; raw py4j leaves a
                # Py4JJavaError with .java_exception. Either way the
                # only thing this call can choke on is the pattern.
                name = type(exc).__name__
                if name in ("IllegalArgumentException", "Py4JJavaError"):
                    msg = str(exc).splitlines()[0]
                    raise InfluxQLError(
                        f"invalid regex /{pattern}/: {msg}"
                    ) from None
                raise
            if len(_JVM_REGEX_OK) > 4096:
                _JVM_REGEX_OK.clear()
            _JVM_REGEX_OK.add(pattern)
    return pattern


def _simple_term(cond: str):
    """Parse one non-time WHERE term into a tagged tuple, or None.
    Shared by the conjunctive path and OR-group disjuncts."""
    gm = _TAG_COND_RE.match(cond)
    if gm:
        return ("eq", _unquote(gm.group("key")), gm.group("val"))
    nq = _TAG_NEQ_RE.match(cond)
    if nq:
        return ("neq", _unquote(nq.group("key")), nq.group("val"))
    rx = _TAG_REGEX_RE.match(cond)
    if rx:
        # validate eagerly (Python + JVM) — this pattern executes via
        # rlike, where a bad pattern would otherwise explode mid-job
        return (
            "re",
            _unquote(rx.group("key")),
            rx.group("op"),
            _user_regex(rx.group("val")),
        )
    fc = _FIELD_COND_RE.match(cond)
    if fc:
        return (
            "num", _unquote(fc.group("key")), fc.group("op"),
            float(fc.group("num")),
        )
    return None


def _term_col(term):
    """Spark Column for one parsed _simple_term tuple."""
    kind = term[0]
    if kind == "eq":
        return F.col(term[1]) == F.lit(term[2])
    if kind == "neq":
        return F.col(term[1]) != F.lit(term[2])
    if kind == "re":
        c = F.col(term[1]).rlike(term[3])
        return c if term[2] == "=~" else ~c
    _kind, key, op, num = term
    c = F.col(key)
    return (
        c >= num if op == ">=" else c <= num if op == "<=" else
        c > num if op == ">" else c < num if op == "<" else
        c != num if op == "!=" else c == num
    )


@dataclass
class _Query:
    select: list  # (fn|None, column, alias, numeric_arg|None)
    measurement: str
    time_lo: tuple | None = None  # (op, ts)
    time_hi: tuple | None = None
    tag_eq: list = field(default_factory=list)
    tag_neq: list = field(default_factory=list)
    tag_regex: list = field(default_factory=list)  # (key, op, pattern)
    field_cond: list = field(default_factory=list)  # (key, op, number)
    # disjunction groups — one entry per parenthesized OR chain, each a
    # list of _simple_term tuples (Grafana multi-value variables)
    or_groups: list = field(default_factory=list)
    group_star: bool = False  # GROUP BY * — expand to all tag columns
    # field-vs-field arithmetic: (left_sel_idx, right_sel_idx, op, alias);
    # the operand select entries carry hidden "_bo<i>" aliases and are
    # dropped once the derived column is projected
    binops: list = field(default_factory=list)
    group_time_s: int | None = None
    group_time_offset_s: int = 0
    tz: str | None = None
    group_tags: list = field(default_factory=list)
    fill: str | None = None
    order_desc: bool = False
    limit: int | None = None
    offset: int = 0
    slimit: int | None = None
    soffset: int = 0
    # select-index → (transform_fn, raw_arg) applied after aggregation
    transforms: dict = field(default_factory=dict)
    # select-index → (op, literal) scalar arithmetic suffix
    scalar_math: dict = field(default_factory=dict)
    # select-index → math fn name applied to the item's output value
    math_fns: dict = field(default_factory=dict)
    # (n_predict, season_len, select_idx) for holt_winters()
    predictor: tuple | None = None
    # per-tag selector: top/bottom(field, tag, N) picks the extreme
    # point of each tag series, then the N most extreme tags
    selector_tag: str | None = None


def parse(q: str) -> _Query:
    q = q.strip().rstrip(";")
    # Grafana's query builder emits ::field / ::tag disambiguators
    # (SELECT mean("value"::field) ... GROUP BY "plc_ip"::tag). The
    # reference data model keeps the two key namespaces disjoint, so
    # they are pure no-ops — strip them everywhere (a literal '::tag'
    # inside a WHERE string is the one out-of-scope corner).
    q = re.sub(r"::(?:field|tag)\b", "", q)
    tz = None
    tzm = _TZ_RE.search(q)
    if tzm:
        tz = tzm.group("tz")
        q = q[: tzm.start()]
    m = _SELECT_RE.match(q)
    if not m:
        raise InfluxQLError(f"unparseable InfluxQL: {q!r}")
    gd = m.groupdict()

    groupby, fill = gd["groupby"], None
    if groupby:
        fm = _FILL_RE.search(groupby)
        if fm:
            fill = fm.group("mode").lower()
            groupby = groupby[: fm.start()]

    sel = []
    transforms: dict = {}
    math_fns: dict = {}
    predictor: list = []
    # split on commas at paren depth 0 so nested "derivative(mean(v), 1s)"
    # and "percentile(v, 95), max(v)" both split correctly
    items, depth, cur = [], 0, []
    for ch in gd["select"]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur).strip())
    selector3: list = []

    def parse_item(item, alias_override=None):
        if re.fullmatch(r"/[^/]*/", item):
            # raw regex projection (SELECT /re/ FROM m) — expanded
            # against the table's columns at compile time; must be
            # claimed BEFORE the arithmetic parser sees the slashes
            sel.append((None, item, alias_override or item, None))
            return
        s3 = _SELECTOR3_RE.match(item)
        if s3:
            fn = s3.group("fn").lower()
            selector3.append(_unquote(s3.group("tag")))
            sel.append(
                (
                    fn,
                    _unquote(s3.group("arg")),
                    alias_override or s3.group("alias") or fn,
                    float(s3.group("n")),
                )
            )
            return
        nm = _NESTED_ITEM_RE.match(item)
        am = _AGG_ITEM_RE.match(item)
        if nm:
            ofn, ifn = nm.group("ofn").lower(), nm.group("ifn").lower()
            col = _unquote(nm.group("arg"))
            alias = alias_override or nm.group("alias")
            if ofn == "count" and ifn == "distinct":
                sel.append(("count_distinct", col, alias or "count", None))
            elif ofn in _TRANSFORMS and (
                ifn in _AGGS or ifn == "percentile"
            ):
                if ofn == "elapsed":
                    raise InfluxQLError("elapsed() takes a field, not an aggregate")
                iarg = _numeric(nm.group("iarg"), ifn) if nm.group("iarg") else None
                if ofn in _TA_FNS and _int_period(nm.group("oarg"), ofn) < 1:
                    raise InfluxQLError(f"{ofn}() period must be >= 1")
                transforms[len(sel)] = (ofn, nm.group("oarg"))
                sel.append((ifn, col, alias or ofn, iarg))
            elif ofn in _MATH_FNS and (
                ifn in _AGGS or ifn == "percentile"
            ):
                # math of an aggregate: sqrt(mean(value))
                iarg = _numeric(nm.group("iarg"), ifn) if nm.group("iarg") else None
                math_fns[len(sel)] = ofn
                sel.append((ifn, col, alias or ofn, iarg))
            elif ofn in _MATH2_FNS and (
                ifn in _AGGS or ifn == "percentile"
            ):
                # two-argument math of an aggregate: pow(mean(value), 2)
                if nm.group("oarg") is None:
                    raise InfluxQLError(
                        f"{ofn}() requires a numeric second argument"
                    )
                iarg = _numeric(nm.group("iarg"), ifn) if nm.group("iarg") else None
                math_fns[len(sel)] = (ofn, _numeric(nm.group("oarg"), ofn))
                sel.append((ifn, col, alias or ofn, iarg))
            elif (
                ofn in ("holt_winters", "holt_winters_with_fit")
                and ifn in _AGGS
            ):
                # holt_winters(mean(value), N, S): predict N buckets
                # ahead with season length S (0 = no seasonality).
                # The _with_fit variant also emits the model's
                # one-step-ahead fitted value at each observed bucket.
                if nm.group("oarg") is None or nm.group("oarg2") is None:
                    raise InfluxQLError(
                        f"{ofn}() requires (agg(field), N, S)"
                    )
                predictor.append(
                    (_int_period(nm.group("oarg"), ofn),
                     _int_period(nm.group("oarg2"), ofn),
                     len(sel),
                     ofn == "holt_winters_with_fit")
                )
                sel.append((ifn, col, alias or ofn, None))
            else:
                raise InfluxQLError(f"unsupported select item {item!r}")
        elif am:
            fn = am.group("fn").lower()
            raw_n = am.group("n")
            alias = alias_override or am.group("alias")
            if fn in _TRANSFORMS:
                # transform over the raw series: derivative(value, 1s)
                if fn in _TA_FNS and _int_period(raw_n, fn) < 1:
                    raise InfluxQLError(f"{fn}() period must be >= 1")
                transforms[len(sel)] = (fn, raw_n)
                sel.append((None, _unquote(am.group("arg")), alias or fn, None))
                return
            if fn in _MATH_FNS:
                # math over a raw field: abs(value)
                if raw_n is not None:
                    raise InfluxQLError(f"{fn}() takes exactly one argument")
                math_fns[len(sel)] = fn
                sel.append((None, _unquote(am.group("arg")), alias or fn, None))
                return
            if fn in _MATH2_FNS:
                # two-argument math over a raw field: pow(value, 2)
                if raw_n is None or re.search(r"[smhdw]$", raw_n):
                    raise InfluxQLError(
                        f"{fn}() requires a numeric second argument"
                    )
                math_fns[len(sel)] = (fn, float(raw_n))
                sel.append((None, _unquote(am.group("arg")), alias or fn, None))
                return
            if fn not in _AGGS and fn not in (
                "percentile", "top", "bottom", "sample", "distinct", "integral"
            ):
                raise InfluxQLError(f"unsupported aggregate {fn!r}")
            if raw_n is not None and re.search(r"[smhdw]$", raw_n):
                if fn != "integral":
                    raise InfluxQLError(f"duration argument invalid for {fn}()")
                n: float | None = _duration_s(raw_n)
            else:
                n = float(raw_n) if raw_n else None
                # N-row selectors take whole counts; truncating
                # top(value, 2.5) to top-2 would be a silent wrong
                # answer (percentile keeps its fractional p)
                if fn in ("top", "bottom", "sample") and n is not None:
                    n = float(_int_period(raw_n, fn))
            arg = _unquote(am.group("arg"))
            if (
                arg == "*" or (arg.startswith("/") and arg.endswith("/"))
            ) and fn not in _AGGS:
                # mean(*) / mean(/re/) … expand to the (regex-matched)
                # field columns at compile time; selectors and
                # parameterized aggregates have no wildcard/regex form
                # in InfluxQL either
                raise InfluxQLError(f"{fn}({arg}) is unsupported")
            sel.append((fn, arg, alias or fn, n))
        elif re.match(r"^[\w\"*]+$", item):
            sel.append(
                (None, _unquote(item), alias_override or _unquote(item), None)
            )
        elif ram := re.match(
            r'^(?P<c>[\w\"]+)\s+AS\s+(?P<a>\w+)$', item, re.IGNORECASE
        ):
            # raw field with alias: SELECT value AS v FROM m
            sel.append(
                (None, _unquote(ram.group("c")),
                 alias_override or ram.group("a"), None)
            )
        else:
            raise InfluxQLError(f"unsupported select item {item!r}")

    scalar_math: dict = {}
    binops: list = []

    def parse_binop(bm, agg: bool):
        if agg:
            lfn, rfn = bm.group("lfn").lower(), bm.group("rfn").lower()
            if lfn not in _AGGS or rfn not in _AGGS:
                raise InfluxQLError(
                    f"unsupported aggregate in arithmetic: {lfn}/{rfn}"
                )
            largs = (lfn, _unquote(bm.group("larg")))
            rargs = (rfn, _unquote(bm.group("rarg")))
            default = f"{lfn}_{rfn}"
        else:
            l, r = _unquote(bm.group("l")), _unquote(bm.group("r"))
            largs, rargs = (None, l), (None, r)
            default = f"{l}_{r}"
        li = len(sel)
        sel.append((largs[0], largs[1], f"_bo{li}", None))
        ri = len(sel)
        sel.append((rargs[0], rargs[1], f"_bo{ri}", None))
        # Result-column aliases must be unique: _apply_binops emits one
        # withColumn per binop, so a repeated alias would silently
        # overwrite the earlier result. Explicit duplicates are a user
        # error; duplicate DEFAULTS (max(a)-min(a), max(b)-min(b) both
        # defaulting to max_min) get InfluxDB-style _1, _2 suffixes.
        taken = {b[3] for b in binops}
        alias = bm.group("alias")
        if alias:
            if alias in taken:
                raise InfluxQLError(f"duplicate result alias {alias!r}")
        else:
            alias, k = default, 0
            while alias in taken:
                k += 1
                alias = f"{default}_{k}"
        binops.append((li, ri, bm.group("op"), alias))

    for item in items:
        # a bare /re/ projection would read as division to the scalar
        # parser — claim it before any arithmetic detection
        se = None if re.fullmatch(r"/[^/]*/", item) else _parse_scalar_expr(item)
        if se is None:
            bam = _BINOP_AGG_RE.match(item)
            if bam:
                parse_binop(bam, agg=True)
                continue
            brm = _BINOP_RAW_RE.match(item)
            if brm and not any(
                re.fullmatch(r"-?\d+(?:\.\d+)?", brm.group(g))
                for g in ("l", "r")
            ):
                parse_binop(brm, agg=False)
                continue
            parse_item(item)
        else:
            # scalar arithmetic around one aggregate/field operand —
            # Grafana's unit conversions in any written order:
            # mean(v) * 100, 100 * mean(v), (mean(v) * 9 / 5) + 32,
            # -mean(v). Parse the operand as the item; the literal
            # arithmetic AST evaluates with standard precedence after
            # aggregation (after the transform, for transformed items).
            base, ast, alias = se
            parse_item(base.strip(), alias_override=alias)
            scalar_math[len(sel) - 1] = ast

    if len(predictor) > 1:
        raise InfluxQLError("only one holt_winters() item is supported")
    out = _Query(
        select=sel,
        # a comma list (FROM m1, m2) must not be outer-unquoted as one
        # token — each name unquotes in _apply_multi_measurement
        measurement=(
            gd["from"] if "," in gd["from"] else _unquote(gd["from"])
        ),
        transforms=transforms,
        scalar_math=scalar_math,
        math_fns=math_fns,
        predictor=predictor[0] if predictor else None,
        selector_tag=selector3[0] if selector3 else None,
        binops=binops,
    )
    if len(selector3) > 1 or (selector3 and len(sel) > 1):
        raise InfluxQLError(
            "top()/bottom() with a tag argument must be the only "
            "select item"
        )

    if gd["where"]:
        for cond in _split_top(gd["where"], "AND"):
            cond = _strip_outer_parens(cond)
            disjuncts = _split_top(cond, "OR")
            if len(disjuncts) > 1:
                # ("host" = 'a' OR "host" = 'b') — Grafana multi-value
                # template variables; compiled as one disjunctive filter
                terms = []
                for d in disjuncts:
                    term = _simple_term(_strip_outer_parens(d))
                    if term is None:
                        raise InfluxQLError(
                            f"unsupported OR condition {d!r} "
                            "(time bounds cannot be OR'd)"
                        )
                    terms.append(term)
                out.or_groups.append(terms)
                continue
            tm = _TIME_COND_RE.match(cond)
            if tm:
                op = tm.group("op")
                ts = tm.group("ts")
                if tm.group("dur"):
                    # time literal ± duration ('2024-01-01' + 2h)
                    import datetime as _dt

                    try:
                        base = _dt.datetime.fromisoformat(ts)
                    except ValueError:
                        # parser totality: garbage in → InfluxQLError
                        # out (matches _aligned()'s ValueError guard),
                        # so one bad statement can't 400 a whole
                        # multi-statement gateway request.
                        raise InfluxQLError(
                            f"invalid time literal {ts!r}"
                        ) from None
                    delta = _dt.timedelta(
                        seconds=_compound_duration_s(tm.group("dur"))
                    )
                    ts = str(
                        base + delta if tm.group("sign") == "+" else base - delta
                    )
                if op in (">", ">="):
                    out.time_lo = (op, ts)
                else:
                    out.time_hi = (op, ts)
                continue
            nw = _TIME_NOW_RE.match(cond)
            if nw:
                # now()-relative bound (what Grafana's time picker
                # emits); resolved to a literal at compile time so the
                # range still reaches the scan as a pushed filter
                op = nw.group("op")
                back = (
                    _compound_duration_s(nw.group("dur"))
                    if nw.group("dur")
                    else 0
                )
                if nw.group("sign") == "+":
                    back = -back
                bound = ("now", back)
                if op in (">", ">="):
                    out.time_lo = (op, bound)
                else:
                    out.time_hi = (op, bound)
                continue
            em = _TIME_EPOCH_RE.match(cond)
            if em:
                # epoch-numeric literal (Grafana raw mode); bare numbers
                # are nanoseconds per InfluxQL
                import datetime as _dt

                unit = (em.group("u") or "ns").lower()
                n = int(em.group("n"))
                us = (
                    n // 1000 if unit == "ns"
                    else n if unit in ("u", "µ")
                    else n * 1000 if unit == "ms"
                    else n * 1_000_000
                )
                # epoch literals are absolute UTC instants — the +00:00
                # keeps them absolute under tz() (normalized at compile)
                ts = (
                    _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
                ).strftime("%Y-%m-%d %H:%M:%S.%f") + "+00:00"
                op = em.group("op")
                if op in (">", ">="):
                    out.time_lo = (op, ts)
                else:
                    out.time_hi = (op, ts)
                continue
            term = _simple_term(cond)
            if term is None:
                raise InfluxQLError(f"unsupported WHERE condition {cond!r}")
            if term[0] == "eq":
                out.tag_eq.append(term[1:])
            elif term[0] == "neq":
                out.tag_neq.append(term[1:])
            elif term[0] == "re":
                out.tag_regex.append(term[1:])
            else:
                out.field_cond.append(term[1:])

    out.tz = tz
    if groupby:
        # time(1h, 30m): the offset is a second argument INSIDE the
        # time() parens, so split only on commas at paren depth 0
        for g in (s.strip() for s in re.split(r",(?![^(]*\))", groupby)):
            gt = _GB_TIME_RE.match(g)
            if gt:
                out.group_time_s = int(
                    round(_compound_duration_s(gt.group("dur")))
                )
                if out.group_time_s < 1:
                    raise InfluxQLError(
                        "GROUP BY time() buckets under 1s are unsupported"
                    )
                if gt.group("odur"):
                    out.group_time_offset_s = int(
                        round(_compound_duration_s(gt.group("odur")))
                    )
            elif g == "*":
                # GROUP BY * — every tag column; the tag universe is a
                # property of the table, so expansion happens at compile
                # time (compile_influxql) where the DataFrame is known
                out.group_star = True
            elif re.match(r"^[\w\"]+$", g):
                out.group_tags.append(_unquote(g))
            else:
                raise InfluxQLError(f"unsupported GROUP BY term {g!r}")

    out.fill = fill
    out.order_desc = (gd["order"] or "").upper() == "DESC"
    out.limit = int(gd["limit"]) if gd["limit"] else None
    out.offset = int(gd["offset"]) if gd.get("offset") else 0
    out.slimit = int(gd["slimit"]) if gd.get("slimit") else None
    out.soffset = int(gd["soffset"]) if gd.get("soffset") else 0
    # SLIMIT/SOFFSET page over SERIES; without GROUP BY <tag> the
    # measurement is one series, so SLIMIT n≥1 is the identity and
    # SOFFSET ≥1 pages past everything (InfluxDB accepts both).

    if fill and out.group_time_s is None:
        raise InfluxQLError("fill() requires GROUP BY time()")
    aggs = [s for s in out.select if s[0]]
    if out.group_time_s is not None and not aggs:
        raise InfluxQLError("GROUP BY time() requires aggregate select")
    if aggs and len(aggs) != len(out.select):
        # one exception, straight from InfluxDB: a single selector may
        # carry raw companion columns — SELECT top(value, 3), plc — the
        # companions come from the SELECTED rows
        selector_mix = (
            len(aggs) == 1
            and aggs[0][0] in ("top", "bottom", "sample")
            and out.select[0][0] in ("top", "bottom", "sample")
        )
        if not selector_mix:
            raise InfluxQLError("cannot mix aggregated and raw select items")
    nested = [i for i in out.transforms if out.select[i][0]]
    if nested and out.group_time_s is None:
        raise InfluxQLError(
            "transform of an aggregate requires GROUP BY time()"
        )
    for fn, _c, _a, _n in out.select:
        if fn == "distinct" and (len(out.select) != 1 or out.group_time_s):
            raise InfluxQLError(
                "distinct() must be the only select item without GROUP BY time()"
            )
        if fn == "integral" and out.group_time_s is not None:
            raise InfluxQLError("integral() with GROUP BY time() is unsupported")
    if out.binops and (
        out.transforms or out.math_fns or out.scalar_math or out.predictor
    ):
        raise InfluxQLError(
            "field arithmetic cannot combine with transforms, math, or "
            "predictors"
        )
    if out.predictor:
        if len(out.select) != 1:
            raise InfluxQLError("holt_winters() must be the only select item")
        if out.group_time_s is None:
            raise InfluxQLError("holt_winters() requires GROUP BY time()")
        if out.fill not in (None, "none") or out.tz:
            raise InfluxQLError("holt_winters() with fill()/tz() is unsupported")
        if out.transforms or out.math_fns or out.scalar_math:
            raise InfluxQLError(
                "holt_winters() cannot combine with transforms or math"
            )
    return out


# InfluxQL aggregates answerable from the mergeable rollup columns
# (streaming/rollup.py): count→Σn, sum→Σsum, mean→Σsum/Σn, min/max→
# min/max of the per-bucket extrema.
_ROLLUP_AGGS = {
    "count": lambda: F.sum("n"),
    "sum": lambda: F.sum("sum_value").cast("double"),
    "mean": lambda: F.sum("sum_value").cast("double") / F.sum("n"),
    "min": lambda: F.min("min_value"),
    "max": lambda: F.max("max_value"),
}


def _aligned(cond, every_s: int, allowed_ops: tuple) -> bool:
    """A time bound is rollup-servable iff its op keeps bucket and row
    semantics identical and the literal lands on a bucket boundary."""
    if cond is None:
        return True
    op, ts = cond
    if op not in allowed_ops:
        return False
    import datetime as _dt

    try:
        t = _dt.datetime.fromisoformat(ts)
    except ValueError:
        return False
    epoch = int(t.replace(tzinfo=_dt.timezone.utc).timestamp())
    return epoch % every_s == 0


def _epoch_utc(ts: str) -> int:
    import datetime as _dt

    return int(
        _dt.datetime.fromisoformat(ts)
        .replace(tzinfo=_dt.timezone.utc)
        .timestamp()
    )


def _normalize_time_bounds(q: _Query) -> None:
    """Rewrite time bounds onto the query's reference wall-clock.

    InfluxDB's time-literal semantics: a BARE literal is interpreted
    in the tz() zone (UTC without tz()); an RFC3339 literal with an
    explicit zone (trailing Z or ±HH:MM) is an absolute instant
    regardless of tz(). Every downstream consumer (_time_lit, the
    fill-grid lattice, rollup alignment) treats the stored string as
    naive reference-zone wall-clock, so explicit-zone literals —
    including the internally generated now()/epoch bounds, which carry
    +00:00 — are converted here once. Without this, a Grafana range
    like ``time < '2024-01-02T00:00:00Z'`` under tz('Europe/Warsaw')
    was re-shifted by the zone offset and silently dropped the last
    local-offset hours of data. (A fall-back-ambiguous local result
    round-trips through to_utc_timestamp to the zone's standard-time
    choice — inherent to wall-clock bucketing.)"""
    import datetime as _dt

    for attr in ("time_lo", "time_hi"):
        b = getattr(q, attr)
        if not b or not isinstance(b[1], str):
            continue
        op, ts = b
        try:
            t = _dt.datetime.fromisoformat(ts)
        except ValueError:
            continue  # surfaces as an invalid-literal error downstream
        if t.tzinfo is None:
            continue
        if q.tz:
            try:
                from zoneinfo import ZoneInfo

                zone = ZoneInfo(q.tz)
            except Exception:
                raise InfluxQLError(f"invalid tz {q.tz!r}") from None
            t = t.astimezone(zone)
        else:
            t = t.astimezone(_dt.timezone.utc)
        setattr(
            q,
            attr,
            (op, t.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")),
        )


def _resolve_now(q: _Query, now) -> None:
    """Turn ('now', back_s) bounds into concrete literals once, at
    compile time — downstream (pushdown, fill grid, rollup alignment)
    then sees plain timestamp strings. ``now`` may be a datetime or
    'YYYY-mm-dd HH:MM:SS' string; defaults to the current UTC time."""
    import datetime as _dt

    base = None
    for attr in ("time_lo", "time_hi"):
        b = getattr(q, attr)
        if b and isinstance(b[1], tuple):
            if base is None:
                if now is None:
                    base = _dt.datetime.now(_dt.timezone.utc).replace(
                        tzinfo=None, microsecond=0
                    )
                elif isinstance(now, str):
                    base = _dt.datetime.fromisoformat(now)
                else:
                    base = now
            _kind, back = b[1]
            # now() is an absolute UTC instant — mark it so
            # _normalize_time_bounds maps it onto the tz() wall-clock
            # instead of re-interpreting it as local
            ts = (base - _dt.timedelta(seconds=back)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ) + "+00:00"
            setattr(q, attr, (b[0], ts))


def _bucket_expr(q: _Query, colname: str):
    """GROUP BY time(N[, offset]) [tz('Zone')] bucket start for a
    timestamp column. With tz() the bucketing happens on the wall-clock
    in that zone (from_utc → window → to_utc), which is how InfluxDB
    aligns day buckets to local midnight."""
    src = F.col(colname)
    if q.tz:
        src = F.from_utc_timestamp(src, q.tz)
    w = F.window(
        src,
        f"{q.group_time_s} seconds",
        startTime=f"{q.group_time_offset_s} seconds",
    )
    b = w.start
    if q.tz:
        b = F.to_utc_timestamp(b, q.tz)
    return b


def _time_lit(q: _Query, ts: str):
    """WHERE time literal: interpreted in the tz() zone when present
    (InfluxDB semantics), else as UTC."""
    lit = F.lit(ts).cast("timestamp")
    return F.to_utc_timestamp(lit, q.tz) if q.tz else lit


def _apply_scalar_math(
    df: DataFrame, q: _Query, transformed: bool
) -> DataFrame:
    """Apply the `<item> op literal` suffixes. Non-transform items get
    their math right after aggregation (before fill — InfluxDB fills
    the DISPLAYED value, so fill literals are not rescaled); transform
    items get it after the transform runs."""
    for idx, ast in q.scalar_math.items():
        if (idx in q.transforms) != transformed:
            continue
        alias = q.select[idx][2]
        df = df.withColumn(alias, _eval_scalar_ast(ast, F.col(alias)))
    return df


def _apply_math_fns(df: DataFrame, q: _Query) -> DataFrame:
    """Apply one-argument math transformations to their select items'
    output values — right after aggregation (so fill literals are NOT
    re-mapped, same display-value rule as the scalar-arithmetic
    suffixes) or on the raw projection for un-aggregated fields."""
    for idx, fn in q.math_fns.items():
        alias = q.select[idx][2]
        if isinstance(fn, tuple):  # two-argument: (name, literal)
            df = df.withColumn(alias, _MATH2_FNS[fn[0]](F.col(alias), fn[1]))
        else:
            df = df.withColumn(alias, _MATH_FNS[fn](F.col(alias)))
    return df


# Fixed Holt-Winters smoothing parameters. InfluxDB fits α/β/γ per
# query with a Nelder-Mead optimizer — an iterative, tolerance-driven
# search no second engine can replay bit-for-bit. We instead pin
# deterministic constants (documented deviation), which keeps the
# predictor oracle-checkable: the additive-seasonal fold below uses the
# exact same IEEE-754 expression tree as the recursive-CTE oracle.
_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.1, 0.1


def _apply_predictor(df: DataFrame, q: _Query) -> DataFrame:
    """holt_winters(agg(field), N, S): consume the GROUP BY time()
    bucket series per tag-series and emit N forecast rows at bucket
    stride past the last bucket. Additive seasonal Holt-Winters with
    classic two-season initialization (level = first-season mean,
    trend = season-mean difference / S, seasonals = first-season
    residuals); S = 0 falls back to double-exponential Holt seeded
    level = y₁, trend = 0. Series shorter than 2S (or 2) emit nothing,
    like InfluxDB on insufficient data.

    holt_winters_with_fit() additionally emits the model's one-step-
    ahead fitted value at every observed bucket the recursion covers
    (seasonal: buckets S+1..n, fitted = level + trend + seasonal
    evaluated on the PRE-update state; Holt: buckets 2..n, fitted =
    level + trend), followed by the same N forecasts — InfluxDB's
    fitted-curve-plus-forecast dashboard shape.

    The buckets per series are GROUP BY time() output — bounded by
    range/every — so the grouped-map fold is small-state per series and
    the heavy lifting (the bucket aggregation) stays native."""
    import pandas as pd

    n_pred, season, idx, with_fit = q.predictor
    alias = q.select[idx][2]
    every = q.group_time_s
    tags = list(q.group_tags)
    a, b_, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time").reset_index(drop=True)
        pts = [
            (t, v)
            for t, v in zip(pdf["time"].tolist(), pdf[alias].tolist())
            if v is not None
        ]
        ys = [v for _, v in pts]
        times, vals, fc = [], [], []
        s = season
        if s >= 2:
            if len(ys) >= 2 * s:
                acc = 0.0
                for v in ys[:s]:
                    acc += v
                lvl = acc / float(s)
                acc2 = 0.0
                for v in ys[s : 2 * s]:
                    acc2 += v
                trd = (acc2 / float(s) - lvl) / float(s)
                seas = [ys[i] - lvl for i in range(s)]
                for t in range(s, len(ys)):
                    si = t % s
                    if with_fit:
                        times.append(pts[t][0])
                        vals.append(lvl + trd + seas[si])
                    l_new = a * (ys[t] - seas[si]) + (1 - a) * (lvl + trd)
                    trd = b_ * (l_new - lvl) + (1 - b_) * trd
                    lvl = l_new
                    seas[si] = g * (ys[t] - l_new) + (1 - g) * seas[si]
                for h in range(1, n_pred + 1):
                    fc.append(lvl + h * trd + seas[(len(ys) + h - 1) % s])
        elif len(ys) >= 2:
            lvl, trd = ys[0], 0.0
            for t in range(1, len(ys)):
                if with_fit:
                    times.append(pts[t][0])
                    vals.append(lvl + trd)
                y = ys[t]
                l_new = a * y + (1 - a) * (lvl + trd)
                trd = b_ * (l_new - lvl) + (1 - b_) * trd
                lvl = l_new
            for h in range(1, n_pred + 1):
                fc.append(lvl + h * trd)
        if fc:
            last = pdf["time"].iloc[-1]
            times = times + [
                last + pd.Timedelta(seconds=every * h)
                for h in range(1, n_pred + 1)
            ]
            vals = vals + fc
        data = {"time": times}
        for tcol in tags:
            data[tcol] = [pdf[tcol].iloc[0]] * len(times)
        data[alias] = vals
        out = pd.DataFrame(data)
        # an empty python list defaults to float64 — pin the dtype so
        # Arrow sees a timestamp column even for too-short series
        out["time"] = pd.to_datetime(out["time"])
        return out

    schema = ", ".join(
        ["time timestamp"]
        + [f"{c} string" for c in tags]
        + [f"{alias} double"]
    )
    grouped = df.groupBy(*tags) if tags else df.groupBy()
    out = grouped.applyInPandas(fold, schema)
    return out.orderBy("time", *tags)


def _ta_fold(ofn: str, xs: list, n: int) -> list:
    """One technical-analysis fold over a series (CPython loop — runs
    inside applyInPandas on ONE series' buckets, which is range/interval
    rows, not raw points). Emission rules (each mirrors a recursive-CTE
    oracle tree bit-for-bit, so the expression order below is load-
    bearing — do not algebraically simplify):

    - exponential_moving_average(x, N): alpha = 2/(N+1), y0 = x0,
      y[i] = alpha*x[i] + (1-alpha)*y[i-1]; emits from the first row.
    - double/triple: DEMA = 2*e1 - e2, TEMA = 3*e1 - 3*e2 + e3 where
      e2 = EMA(e1), e3 = EMA(e2); emit from the first row.
    - triple_exponential_derivative (TRIX): 100*(t[i]-t[i-1])/t[i-1]
      over t = e3; null at the first row (and where t[i-1] == 0).
    - relative_strength_index(x, N): Wilder — seed avg gain/loss =
      mean of the first N diffs, then a[i] = (a[i-1]*(N-1)+g[i])/N;
      100.0 when avg loss is 0; emits from row index N.
    - chande_momentum_oscillator(x, N): 100*(sUp-sDown)/(sUp+sDown)
      over the last N diffs (running diff sums — exact when the input
      aggregate is integral, e.g. count()); 0.0 when the denominator
      is 0; emits from row index N.
    - kaufmans_efficiency_ratio(x, N): |x[i]-x[i-N]| / sum(|diff|)
      over the last N diffs, in [0, 1]; 0.0 when flat; from index N.
    - kaufmans_adaptive_moving_average(x, N): sc = (er*(2/3 - 2/31)
      + 2/31)^2, y seeded at x[N-1], y[i] = y[i-1] + sc*(x[i]-y[i-1]);
      emits from row index N.
    """
    m = len(xs)
    out: list = [None] * m

    def ema_series(vals, n_):
        a = 2.0 / (n_ + 1)
        ys = []
        y = None
        for v in vals:
            y = v if y is None else a * v + (1 - a) * y
            ys.append(y)
        return ys

    if ofn == "exponential_moving_average":
        return ema_series(xs, n)
    if ofn in (
        "double_exponential_moving_average",
        "triple_exponential_moving_average",
        "triple_exponential_derivative",
    ):
        e1 = ema_series(xs, n)
        e2 = ema_series(e1, n)
        if ofn == "double_exponential_moving_average":
            return [2 * a - b for a, b in zip(e1, e2)]
        e3 = ema_series(e2, n)
        if ofn == "triple_exponential_moving_average":
            return [3 * a - 3 * b + c for a, b, c in zip(e1, e2, e3)]
        for i in range(1, m):
            if e3[i - 1] != 0:
                out[i] = 100.0 * (e3[i] - e3[i - 1]) / e3[i - 1]
        return out
    if ofn == "relative_strength_index":
        if m <= n:
            return out
        diffs = [xs[i] - xs[i - 1] for i in range(1, m)]
        ag = sum(max(d, 0) for d in diffs[:n]) / n
        al = sum(max(-d, 0) for d in diffs[:n]) / n
        out[n] = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
        for i in range(n + 1, m):
            d = diffs[i - 1]
            ag = (ag * (n - 1) + max(d, 0)) / n
            al = (al * (n - 1) + max(-d, 0)) / n
            out[i] = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
        return out
    if ofn in (
        "chande_momentum_oscillator",
        "kaufmans_efficiency_ratio",
        "kaufmans_adaptive_moving_average",
    ):
        diffs = [xs[i] - xs[i - 1] for i in range(1, m)]
        y = None
        for i in range(n, m):
            win = diffs[i - n : i]
            s_up = sum(max(d, 0) for d in win)
            s_dn = sum(max(-d, 0) for d in win)
            if ofn == "chande_momentum_oscillator":
                tot = s_up + s_dn
                out[i] = 0.0 if tot == 0 else 100.0 * (s_up - s_dn) / tot
                continue
            s_abs = s_up + s_dn
            er = 0.0 if s_abs == 0 else abs(xs[i] - xs[i - n]) / s_abs
            if ofn == "kaufmans_efficiency_ratio":
                out[i] = er
                continue
            # t*t, not **2: the oracle writes t*t and pow(x, 2) is not
            # guaranteed bit-equal to multiplication
            t = er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0
            sc = t * t
            if y is None:
                y = xs[n - 1]
            y = y + sc * (xs[i] - y)
            out[i] = y
        return out
    raise InfluxQLError(f"unsupported transform {ofn!r}")


def _apply_ta(
    df: DataFrame, q: _Query, ta_items: list, time_col: str
) -> DataFrame:
    """Run every technical-analysis transform of a statement in ONE
    applyInPandas pass per series (partitioned by the GROUP BY tags —
    at scale each series is one task; with no tags the statement is
    inherently one global series, same caveat as the Window path)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructType

    for alias, _ofn, _n in ta_items:
        df = df.withColumn(alias, F.col(alias).cast("double"))
    tags = list(q.group_tags)
    fields = [
        (f.name, DoubleType() if f.name in {a for a, _, _ in ta_items}
         else f.dataType)
        for f in df.schema.fields
    ]
    schema = StructType()
    for name, dtype in fields:
        schema = schema.add(name, dtype, True)
    cols = [name for name, _ in fields]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col).reset_index(drop=True)
        for alias, ofn, n in ta_items:
            # skip NULL input points (an all-NULL bucket from a multi-
            # field statement) exactly like _apply_predictor: InfluxDB
            # feeds a transform only the field's actual points, so a
            # NULL bucket must not enter the recursion — a NaN there
            # would poison every subsequent EMA/RSI/KAMA value for the
            # series. The fold runs over the non-null subsequence and
            # results land back at those positions; NULL rows stay NULL.
            vals = pdf[alias].tolist()
            idxs = [i for i, v in enumerate(vals) if not pd.isna(v)]
            ys = _ta_fold(ofn, [float(vals[i]) for i in idxs], n)
            out: list = [None] * len(vals)
            for i, y in zip(idxs, ys):
                out[i] = y
            # nullable Float64 so warm-up rows cross Arrow as NULL,
            # not NaN (a NaN would defeat the isNotNull warm filter
            # and hash differently than the oracle's NULL)
            pdf[alias] = pd.array(out, dtype="Float64")
        return pdf[cols]

    grouped = df.groupBy(*tags) if tags else df.groupBy(F.lit(0).alias("_g"))
    out = grouped.applyInPandas(fold, schema)
    return out.select(*cols)


def _apply_transforms(df: DataFrame, q: _Query, time_col: str = "time") -> DataFrame:
    """InfluxDB transformations over an ordered series — the GROUP BY
    time() buckets (nested form) or the raw points (flat form). All of
    them are per-series window math: partitioned by the GROUP BY tags,
    ordered by time. Lag-based transforms emit one fewer row per series
    (InfluxDB drops the seedless first point); moving_average emits
    from the Nth point.

    With no GROUP BY tag the window is a single partition — inherent to
    differencing one global series, and bounded: the input here is
    already aggregated buckets (range/interval rows), not raw points.
    """
    if not q.transforms:
        return df
    w = Window.partitionBy(*q.group_tags).orderBy(time_col)
    tcol = F.col(time_col)
    warm = []  # columns whose warm-up rows InfluxDB does not emit
    ta_items = []  # technical-analysis folds, run in one pandas pass
    for idx, (ofn, oarg) in q.transforms.items():
        alias = q.select[idx][2]
        c = F.col(alias)
        if ofn in _TA_FNS:
            if oarg is None:
                raise InfluxQLError(f"{ofn}() requires a period argument")
            ta_items.append((alias, ofn, _int_period(oarg, ofn)))
            if ofn != "exponential_moving_average":
                warm.append(alias)
            continue
        # InfluxDB feeds a transform only the field's actual points, so
        # NULL input rows (an all-NULL bucket in a multi-field
        # statement) must be INVISIBLE to the recursion, not poison it:
        # "previous" means the previous NON-NULL value/timestamp, and
        # results exist only at non-null input rows. last(ignorenulls)
        # over the preceding frame degenerates to plain lag() when no
        # nulls exist, so clean-data plans and hashes are unchanged.
        prev_frame = w.rowsBetween(Window.unboundedPreceding, -1)
        prev_v = F.last(c, ignorenulls=True).over(prev_frame)
        prev_t = F.last(
            F.when(c.isNotNull(), tcol), ignorenulls=True
        ).over(prev_frame)
        if ofn in ("difference", "non_negative_difference"):
            res = F.when(c.isNotNull(), c - prev_v)
            warm.append(alias)
        elif ofn in ("derivative", "non_negative_derivative"):
            # grouped queries default the unit to the bucket width,
            # raw queries to 1s — InfluxDB 1.x behavior. Time deltas in
            # exact integer micros (unix_timestamp would floor seconds
            # and zero out sub-second gaps).
            unit = _duration_s(oarg, float(q.group_time_s or 1))
            dt = F.unix_micros(tcol) - F.unix_micros(prev_t)
            res = F.when(
                c.isNotNull(),
                (c - prev_v) / (dt / F.lit(unit * 1_000_000.0)),
            )
            warm.append(alias)
        elif ofn == "moving_average":
            if oarg is None:
                raise InfluxQLError("moving_average() requires a window size")
            n = _int_period(oarg, ofn)
            # frame over the NON-NULL subsequence: rank rows by running
            # non-null count (ties only on null rows, which built-in
            # avg/count skip anyway) and take an integer RANGE frame —
            # on null-free data nn == row_number and this is exactly
            # the old rowsBetween(-(n-1), 0) frame, bit-identical avg
            nn = F.count(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
            df = df.withColumn(f"_nn_{alias}", nn)
            w2 = (
                Window.partitionBy(*q.group_tags)
                .orderBy(f"_nn_{alias}")
                .rangeBetween(-(n - 1), 0)
            )
            res = F.when(
                c.isNotNull() & (F.count(c).over(w2) == n),
                F.avg(c).over(w2),
            )
            warm.append(alias)
        elif ofn == "cumulative_sum":
            res = F.when(
                c.isNotNull(),
                F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
        elif ofn == "elapsed":
            unit = _duration_s(oarg, 1.0)
            dt = F.unix_micros(tcol) - F.unix_micros(prev_t)
            res = F.when(
                c.isNotNull(),
                F.floor(dt / F.lit(unit * 1_000_000.0)).cast("bigint"),
            )
            warm.append(alias)
        else:
            raise InfluxQLError(f"unsupported transform {ofn!r}")
        df = df.withColumn(alias, res)
        if ofn == "moving_average":
            df = df.drop(f"_nn_{alias}")
        if ofn.startswith("non_negative"):
            # InfluxDB omits the negative POINTS of this column; other
            # select columns on the same row keep their values, so
            # null-out rather than row-filter (the warm filter below
            # drops rows where no transform column remains defined)
            df = df.withColumn(
                alias, F.when(F.col(alias) >= 0, F.col(alias))
            )
    if ta_items:
        df = _apply_ta(df, q, ta_items, time_col)
    # keep a row if any transformed column produced a value there
    # (InfluxDB pads shorter-warm-up columns with null, drops rows
    # where nothing is defined). Gated on transforms, not just the
    # warm list: a cumulative_sum-only statement must also drop its
    # null-input buckets — no input point, no output point.
    if q.transforms:
        cond = F.lit(False)
        for idx in q.transforms:
            cond = cond | F.col(q.select[idx][2]).isNotNull()
        df = df.filter(cond)
    return df


def _apply_binops(df: DataFrame, q: _Query) -> DataFrame:
    """Project field-arithmetic results, drop the hidden operand
    columns, and rewrite ``q.select`` so downstream consumers
    (fill/ordering in _finish_grouped) see only real output columns."""
    if not q.binops:
        return df
    hidden: set[str] = set()
    for li, ri, op, alias in q.binops:
        left, right = F.col(q.select[li][2]), F.col(q.select[ri][2])
        expr = (
            left * right if op == "*" else left / right if op == "/" else
            left + right if op == "+" else left - right
        )
        df = df.withColumn(alias, expr)
        hidden.add(q.select[li][2])
        hidden.add(q.select[ri][2])
    df = df.drop(*hidden)
    q.select = [s for s in q.select if s[2] not in hidden] + [
        (None, alias, alias, None) for _li, _ri, _op, alias in q.binops
    ]
    q.binops = []
    return df


def _finish_grouped(df: DataFrame, q: _Query) -> DataFrame:
    """fill() / ORDER BY time / LIMIT / SLIMIT on a GROUP BY time()
    result — shared by the raw-table and rollup-routed paths."""
    if (q.slimit is not None or q.soffset) and not q.group_tags:
        # one series: SOFFSET ≥1 pages past it, SLIMIT is the identity
        if q.soffset:
            df = df.limit(0)
    elif q.slimit is not None or q.soffset:
        # series paging: rank series on the tiny DISTINCT-tags set and
        # semi-join back — a global window over the full result would
        # funnel every row through one partition at scale
        w = Window.orderBy(*[F.col(t) for t in q.group_tags])
        keep = (
            df.select(*q.group_tags)
            .distinct()
            .withColumn("_srank", F.row_number().over(w))
        )
        if q.soffset:
            keep = keep.filter(F.col("_srank") > q.soffset)
        if q.slimit is not None:
            keep = keep.filter(F.col("_srank") <= q.soffset + q.slimit)
        df = df.join(F.broadcast(keep.drop("_srank")), q.group_tags, "semi")
    if (
        q.fill not in (None, "none")
        and q.group_time_s
        and q.time_lo is not None
        and q.time_hi is not None
    ):
        # InfluxDB emits one row per interval across the queried range,
        # including EMPTY buckets (fill(previous) carries values across
        # gaps; fill(<num>)/fill(null) emit the fill value). Build the
        # bucket grid per series and left-join the aggregates onto it.
        # The grid is bounded (range/every rows — tiny, broadcast); the
        # series side is data-sized and stays distributed.
        every = q.group_time_s
        off = q.group_time_offset_s
        # With tz() both the WHERE literals and the bucket lattice live
        # on the LOCAL wall-clock (matching _bucket_expr / _time_lit);
        # _epoch_utc then yields "naive local seconds", and the uniform
        # local grid maps to a NON-uniform UTC grid across DST (day
        # buckets are 23/24/25 UTC hours — InfluxDB's tz semantics).
        lo_s, hi_s = _epoch_utc(q.time_lo[1]), _epoch_utc(q.time_hi[1])
        start = (lo_s - off) // every * every + off
        if q.time_hi[0] == "<=":
            end = (hi_s - off) // every * every + every + off
        else:  # '<': buckets strictly before hi
            end = -(-(hi_s - off) // every) * every + off
        spark = df.sparkSession
        grid = spark.range(start, end, every).select(
            F.timestamp_seconds("id").alias("time")
        )
        if q.tz:
            # local wall-clock → UTC instants. Spring-forward makes a
            # local bucket start nonexistent: it maps onto the same UTC
            # instant as its neighbor — dropDuplicates keeps the grid
            # keyed by distinct UTC bucket starts, matching exactly the
            # instants _bucket_expr can emit.
            grid = grid.select(
                F.to_utc_timestamp(F.col("time"), q.tz).alias("time")
            ).dropDuplicates(["time"])
        if q.group_tags:
            series = df.select(*q.group_tags).distinct()
            grid = series.crossJoin(F.broadcast(grid))
        df = grid.join(df, ["time", *q.group_tags], "left")
    if q.fill == "previous":
        w = (
            Window.partitionBy(*q.group_tags)
            .orderBy("time")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for _fn, _col, alias, _n in q.select:
            df = df.withColumn(alias, F.last(alias, ignorenulls=True).over(w))
    elif q.fill == "linear":
        # interpolate empty buckets between the surrounding data points
        # per series; leading/trailing gaps stay null (InfluxDB behavior)
        wb = (
            Window.partitionBy(*q.group_tags)
            .orderBy("time")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*q.group_tags)
            .orderBy("time")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        for _fn, _col, alias, _n in q.select:
            pt = F.when(
                F.col(alias).isNotNull(), F.struct(F.col("time"), F.col(alias))
            )
            prev = F.last(pt, ignorenulls=True).over(wb)
            nxt = F.first(pt, ignorenulls=True).over(wf)
            frac = (
                F.unix_micros(F.col("time")) - F.unix_micros(prev["time"])
            ) / (
                F.unix_micros(nxt["time"]) - F.unix_micros(prev["time"])
            )
            df = df.withColumn(
                alias,
                F.coalesce(
                    F.col(alias),
                    prev[alias] + (nxt[alias] - prev[alias]) * frac,
                ),
            )
    elif q.fill not in (None, "none", "null"):
        for _fn, _col, alias, _n in q.select:
            df = df.withColumn(
                alias, F.coalesce(F.col(alias), F.lit(float(q.fill)))
            )
    df = _apply_transforms(df, q)
    df = _apply_scalar_math(df, q, transformed=True)
    order_cols = [F.col("time").desc() if q.order_desc else F.col("time")]
    if q.group_tags and (q.offset or q.limit is not None):
        # InfluxQL LIMIT/OFFSET page points PER SERIES when the query
        # groups by tags — and a partitioned row_number also avoids the
        # single-partition global sort+limit at scale
        wp = Window.partitionBy(*q.group_tags).orderBy(*order_cols)
        df = df.withColumn("_rn", F.row_number().over(wp))
        if q.offset:
            df = df.filter(F.col("_rn") > q.offset)
        if q.limit is not None:
            df = df.filter(F.col("_rn") <= q.offset + (q.limit or 0))
        df = df.drop("_rn")
        return df.orderBy(*order_cols, *q.group_tags)
    df = df.orderBy(*order_cols, *q.group_tags)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def _is_regex_measurement(m: str) -> bool:
    return len(m) >= 2 and m.startswith("/") and m.endswith("/")


def _apply_regex_measurement(df: DataFrame, q: _Query) -> DataFrame:
    """FROM /re/: query every measurement whose name matches, emitting
    one series per measurement (InfluxDB splits the result set the same
    way — modeled here as an implicit GROUP BY on the measurement
    column; the reference data model names it plc_ip)."""
    if not _is_regex_measurement(q.measurement):
        return df
    mcol = next(
        (c for c in ("measurement", "plc_ip") if c in df.columns), None
    )
    if mcol is None:
        raise InfluxQLError(
            "FROM /regex/ needs a 'measurement' or 'plc_ip' column"
        )
    if mcol not in q.group_tags:
        q.group_tags.append(mcol)
    return df.filter(F.col(mcol).rlike(_user_regex(q.measurement[1:-1])))


def _apply_multi_measurement(df: DataFrame, q: _Query) -> DataFrame:
    """FROM m1, m2: query several measurements at once, one series per
    measurement (InfluxDB splits the result set per measurement —
    modeled as a filter + implicit GROUP BY on the measurement column,
    exactly like the FROM /regex/ path)."""
    if "," not in q.measurement:
        return df
    names = [_unquote(s.strip()) for s in q.measurement.split(",")]
    mcol = next(
        (c for c in ("measurement", "plc_ip") if c in df.columns), None
    )
    if mcol is None:
        raise InfluxQLError(
            "FROM m1, m2 needs a 'measurement' or 'plc_ip' column"
        )
    if mcol not in q.group_tags:
        q.group_tags.append(mcol)
    return df.filter(F.col(mcol).isin(names))


def _where_filters(df: DataFrame, q: _Query) -> DataFrame:
    """Tag equality/inequality/regex and numeric field predicates —
    plain conjunctive filters, all pushdown-eligible except rlike."""
    for key, val in q.tag_eq:
        df = df.filter(F.col(key) == F.lit(val))
    for key, val in q.tag_neq:
        df = df.filter(F.col(key) != F.lit(val))
    for key, op, pat in q.tag_regex:
        c = F.col(key).rlike(pat)
        df = df.filter(c if op == "=~" else ~c)
    for key, op, num in q.field_cond:
        c = F.col(key)
        df = df.filter(
            c >= num if op == ">=" else c <= num if op == "<=" else
            c > num if op == ">" else c < num if op == "<" else
            c != num if op == "!=" else c == num
        )
    for grp in q.or_groups:
        cond = _term_col(grp[0])
        for term in grp[1:]:
            cond = cond | _term_col(term)
        df = df.filter(cond)
    return df


def _rollup_servable(q: _Query, rollup_every_s: int | None) -> bool:
    return (
        rollup_every_s is not None
        and not _is_regex_measurement(q.measurement)
        and "," not in q.measurement
        and q.group_time_s is not None
        and q.group_time_s % rollup_every_s == 0
        # per-point predicates and non-mergeable shapes need raw points
        and not q.tag_neq and not q.tag_regex and not q.field_cond
        and not q.or_groups and not q.group_star and not q.binops
        and not any(c == "*" for _fn, c, _a, _n in q.select)
        and q.tz is None
        and q.group_time_offset_s % rollup_every_s == 0
        and all(fn in _ROLLUP_AGGS and c == "value" for fn, c, _a, _n in q.select)
        and set(q.group_tags) <= {"plc_ip", "alias"}
        and all(k in ("plc_ip", "alias") for k, _v in q.tag_eq)
        and _aligned(q.time_lo, rollup_every_s, (">=",))
        and _aligned(q.time_hi, rollup_every_s, ("<",))
    )


def compile_influxql(
    query: str,
    table: DataFrame,
    rollup: DataFrame | None = None,
    rollup_every_s: int | None = None,
    now=None,
) -> DataFrame:
    """Compile one InfluxQL statement against ``table`` (the
    measurement the FROM clause names; resolution is the caller's —
    e.g. ``IoTEngine.points(path)`` or any DataFrame with a ``ts``
    column). Returns the equivalent DataFrame plan.

    When a CQ ``rollup`` table (streaming/rollup.py) and its bucket
    width are supplied, GROUP BY time() queries whose aggregates,
    bounds, and bucket all merge exactly from the rollup are routed to
    it instead of the raw table — identical results off a
    window-ratio-smaller scan; everything else silently takes the raw
    path."""
    q = parse(query)
    _resolve_now(q, now)
    _normalize_time_bounds(q)
    table = _apply_regex_measurement(table, q)
    table = _apply_multi_measurement(table, q)

    if q.group_star:
        # GROUP BY * — every tag column. Tags in this engine's points
        # model are the string columns that aren't selected fields
        # (plc_ip/alias in the reference layout); expansion needs the
        # DataFrame, hence here and not in parse().
        used = {c for _fn, c, _a, _n in q.select} | {"ts", "time"}
        q.group_tags.extend(
            c for c, dt_ in table.dtypes
            if dt_ == "string" and c not in used and c not in q.group_tags
        )
        q.group_star = False

    def _multi_field(c: str) -> bool:
        # agg(*) wildcard, or agg(/re/) regex field selector —
        # InfluxDB matches field keys with an unanchored regex search
        return c == "*" or (len(c) >= 2 and c[0] == "/" and c[-1] == "/")

    if any(fn and _multi_field(c) for fn, c, _a, _n in q.select):
        # agg(*) / agg(/re/) — one output column per (matching)
        # numeric field column, named <alias>_<field> exactly as
        # InfluxDB names mean(*) results
        if q.transforms or q.math_fns or q.scalar_math or q.predictor:
            raise InfluxQLError(
                "agg(*) cannot combine with transforms, math, or predictors"
            )
        fields = [
            c for c, dt_ in table.dtypes
            if c not in ("ts",) and c not in q.group_tags
            and (
                dt_ in ("double", "float", "bigint", "int", "smallint",
                        "tinyint")
                or dt_.startswith("decimal")
            )
        ]
        if not fields:
            raise InfluxQLError("agg(*) found no numeric field columns")
        expanded = []
        for fn, c, a, n in q.select:
            if fn and _multi_field(c):
                matched = fields if c == "*" else [
                    fc for fc in fields
                    if re.search(_user_regex(c[1:-1], jvm_side=False), fc)
                ]
                if not matched:
                    raise InfluxQLError(
                        f"{fn}({c}) matched no numeric field columns"
                    )
                expanded.extend((fn, fc, f"{a}_{fc}", n) for fc in matched)
            else:
                expanded.append((fn, c, a, n))
        q.select = expanded

    if any(
        fn is None and c != "*" and _multi_field(c)
        for fn, c, _a, _n in q.select
    ):
        # raw regex projection: SELECT /re/ FROM m — expands to every
        # matching column, fields AND tags (InfluxDB matches both key
        # namespaces for bare regex select items)
        candidates = [c for c, _dt in table.dtypes if c != "ts"]
        expanded = []
        for fn, c, a, n in q.select:
            if fn is None and c != "*" and _multi_field(c):
                matched = [
                    fc for fc in candidates
                    if re.search(_user_regex(c[1:-1], jvm_side=False), fc)
                ]
                if not matched:
                    raise InfluxQLError(f"SELECT {c} matched no columns")
                expanded.extend((None, fc, fc, None) for fc in matched)
            else:
                expanded.append((fn, c, a, n))
        q.select = expanded

    if rollup is not None and _rollup_servable(q, rollup_every_s):
        df = rollup
        for op, ts in (c for c in (q.time_lo, q.time_hi) if c):
            lit = F.lit(ts).cast("timestamp")
            col = F.col("bucket_start")
            df = df.filter(col >= lit if op == ">=" else col < lit)
            if "date" in df.columns:
                # redundant with the bucket_start predicate, but hits
                # the table's date PARTITION column → partition pruning
                # (bucket_start alone prunes nothing at the file level)
                dlit = F.to_date(lit)
                df = df.filter(
                    F.col("date") >= dlit if op == ">=" else F.col("date") <= dlit
                )
        for key, val in q.tag_eq:
            df = df.filter(F.col(key) == F.lit(val))
        bucket = _bucket_expr(q, "bucket_start")
        keys = [bucket.alias("time"), *[F.col(t) for t in q.group_tags]]
        df = df.groupBy(*keys).agg(
            *[_ROLLUP_AGGS[fn]().alias(alias) for fn, _c, alias, _n in q.select]
        )
        if q.predictor:
            return _apply_predictor(df, q)
        df = _apply_scalar_math(_apply_math_fns(df, q), q, transformed=False)
        return _finish_grouped(df, q)

    df = table

    for op, ts in (c for c in (q.time_lo, q.time_hi) if c):
        lit = _time_lit(q, ts)
        col = F.col("ts")
        df = df.filter(
            col >= lit if op == ">=" else
            col > lit if op == ">" else
            col <= lit if op == "<=" else
            col < lit
        )
    df = _where_filters(df, q)

    selectors = [s for s in q.select if s[0] in ("top", "bottom", "sample")]
    if selectors and q.selector_tag:
        # top(field, tag, N) / bottom(field, tag, N): the extreme field
        # value of each tag series, for the N most extreme tags. Two
        # tiny aggregates: per-tag argmax/argmin (max_by over a
        # tie-broken ordering struct — value first, then EARLIER time
        # wins), then a global top-N over the one-row-per-tag result
        # (orderBy().limit() → TakeOrderedAndProject, no window
        # funnel). Output rows carry the winning point's timestamp,
        # matching InfluxDB's selector semantics.
        if q.group_time_s is not None:
            raise InfluxQLError(
                "top()/bottom() with a tag argument cannot combine "
                "with GROUP BY time()"
            )
        fn, colname, alias, n = q.select[0]
        tag = q.selector_tag
        top = fn == "top"
        # tie-break: extreme value, then earliest point — encode
        # "earliest" as negated epoch so ONE max_by/min_by ordering
        # struct expresses both
        ts_key = -F.unix_micros(F.col("ts")) if top else F.unix_micros(F.col("ts"))
        pick = F.max_by if top else F.min_by
        per_tag = df.groupBy(tag).agg(
            pick(
                F.struct(F.col("ts"), F.col(colname)),
                F.struct(F.col(colname), ts_key),
            ).alias("_pt")
        )
        per_tag = per_tag.select(
            F.col("_pt.ts").alias("time"),
            F.col(f"_pt.{colname}").alias(alias),
            F.col(tag),
        )
        val = F.col(alias)
        df = (
            per_tag.orderBy(
                val.desc() if top else val, "time", tag
            )
            .limit(int(n))
        )
        df = _apply_scalar_math(df, q, transformed=False).orderBy(
            "time", tag
        )
    elif selectors:
        # top(v, N)/bottom(v, N)/sample(v, N): InfluxDB "selectors"
        # return N POINTS per series (time preserved), not one
        # aggregate row — a tag-partitioned rank, not a groupBy.
        # sample() ranks by md5 of the point's epoch-micros instead of
        # InfluxDB's reservoir RNG — deterministic and cross-engine
        # replayable (documented deviation); still a uniform,
        # value-independent pick.
        raw_rest = [s for s in q.select[1:] if s[0] is None]
        if (
            q.select[0][0] not in ("top", "bottom", "sample")
            or len(raw_rest) != len(q.select) - 1
            or q.group_time_s is not None
        ):
            raise InfluxQLError(
                "top()/bottom()/sample() must lead the select list (raw "
                "companion columns only) and cannot combine with GROUP BY "
                "time()"
            )
        # companions from the selected rows; group tags already emitted
        companions = [
            (c, a) for _f2, c, a, _n2 in raw_rest if c not in q.group_tags
        ]
        fn, colname, alias, n = q.select[0]
        if n is None:
            raise InfluxQLError(f"{fn}() requires a second argument")
        order = (
            [F.col(colname).desc(), F.col("ts")]
            if fn == "top"
            else [F.col(colname), F.col("ts")]
            if fn == "bottom"
            else [F.md5(F.unix_micros(F.col("ts")).cast("string")), F.col("ts")]
        )
        projection = [
            F.col("ts").alias("time"),
            *q.group_tags,
            F.col(colname).alias(alias),
            # companion columns ride along from the selected rows
            *[F.col(c).alias(a) for c, a in companions],
        ]
        if q.group_tags:
            w = Window.partitionBy(*q.group_tags).orderBy(*order)
            df = (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= int(n))
                .select(*projection)
            )
        else:
            # global selector: orderBy().limit() compiles to
            # TakeOrderedAndProject (per-partition heaps, no shuffle)
            # — an unpartitioned row_number window would move the
            # whole measurement to a single partition.
            df = df.orderBy(*order).limit(int(n)).select(*projection)
        df = (
            _apply_scalar_math(df, q, transformed=False)
            .orderBy("time", *q.group_tags)
        )
    elif q.group_time_s is not None:
        bucket = _bucket_expr(q, "ts")
        keys = [bucket.alias("time"), *[F.col(t) for t in q.group_tags]]
        aggs = [
            _agg_expr(fn, colname, n).alias(alias)
            for fn, colname, alias, n in q.select
        ]
        agg_df = df.groupBy(*keys).agg(*aggs)
        if q.predictor:
            return _apply_predictor(agg_df, q)
        agg_df = _apply_binops(agg_df, q)
        return _finish_grouped(
            _apply_scalar_math(_apply_math_fns(agg_df, q), q, transformed=False),
            q,
        )
    elif q.select and q.select[0][0] == "distinct":
        _fn, colname, alias, _n = q.select[0]
        df = (
            df.select(*q.group_tags, F.col(colname).alias(alias))
            .distinct()
            .orderBy(*q.group_tags, alias)
        )
    elif q.select and q.select[0][0]:
        integrals = [s for s in q.select if s[0] == "integral"]
        if integrals:
            # trapezoid needs each point's predecessor within its series
            wl = Window.partitionBy(*q.group_tags).orderBy("ts")
            df = df.withColumn("_pt", F.lag("ts").over(wl))
            for _fn, colname, _a, _n in integrals:
                df = df.withColumn(f"_pv_{colname}", F.lag(colname).over(wl))
        keys = [F.col(t) for t in q.group_tags]
        aggs = []
        for fn, c, a, n in q.select:
            if fn == "integral":
                unit = n or 1.0
                area = (
                    (F.col(c) + F.col(f"_pv_{c}")) / F.lit(2.0)
                    * (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_pt")))
                    / F.lit(unit * 1_000_000.0)
                )
                aggs.append(F.sum(area).alias(a))
            else:
                aggs.append(_agg_expr(fn, c, n).alias(a))
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        df = _apply_binops(df, q)
        df = _apply_scalar_math(_apply_math_fns(df, q), q, transformed=False)
    elif q.transforms:
        # transform over the raw point series: derivative(value, 1s),
        # elapsed(value, 1ms), cumulative_sum(value), ... per tag series
        src = list(dict.fromkeys(s[1] for s in q.select))
        df = df.select("ts", *q.group_tags, *[c for c in src if c != "ts"])
        for _fn, colname, alias, _n in q.select:
            if alias != colname:
                df = df.withColumn(alias, F.col(colname))
        df = _apply_transforms(df, q, time_col="ts")
        df = _apply_math_fns(df, q)
        df = _apply_scalar_math(df, q, transformed=True)
        df = df.select("ts", *q.group_tags, *[s[2] for s in q.select])
        df = df.orderBy(
            F.col("ts").desc() if q.order_desc else F.col("ts"), *q.group_tags
        )
    elif q.binops:
        # raw field arithmetic: value / other — per-row, map-only.
        # Keep the group tags (the measurement column for multi-
        # measurement / regex FROM) so per-measurement rows stay
        # distinguishable, as InfluxDB's per-series output is.
        df = df.select(
            "ts",
            *q.group_tags,
            *[F.col(c).alias(a) for _fn, c, a, _n in q.select],
        )
        df = _apply_binops(df, q)
        df = df.select("ts", *q.group_tags, *[s[2] for s in q.select])
        df = df.orderBy(
            F.col("ts").desc() if q.order_desc else F.col("ts"), *q.group_tags
        )
    else:
        cols = [s[1] for s in q.select]
        if cols != ["*"]:
            if q.scalar_math or q.math_fns:
                df = df.select(
                    "ts",
                    *q.group_tags,
                    *[
                        F.col(c).alias(a)
                        for _fn, c, a, _n in q.select
                        if c != "ts"
                    ],
                )
                df = _apply_math_fns(df, q)
                df = _apply_scalar_math(df, q, transformed=False)
            else:
                df = df.select(
                    "ts",
                    *q.group_tags,
                    *[
                        F.col(c).alias(a)
                        for _fn, c, a, _n in q.select
                        if c != "ts" and c not in q.group_tags
                    ],
                )
        df = df.orderBy(
            F.col("ts").desc() if q.order_desc else F.col("ts"), *q.group_tags
        )

    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    if q.soffset and not q.group_tags:
        # single-series SOFFSET pages past the only series (the
        # GROUP-BY-tag paging lives in _finish_grouped)
        df = df.limit(0)
    return df


# --------------------------------------------------------------------------
# Meta queries (Grafana autocomplete): SHOW MEASUREMENTS / FIELD KEYS /
# TAG KEYS / TAG VALUES, answered from the points table under the
# reference's data model — measurement = plc_ip, one field per alias,
# tags always empty (Linux/InfluxConnector2.py:175,231-238).
# --------------------------------------------------------------------------
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+(?P<what>MEASUREMENTS?|FIELD\s+KEYS?|TAG\s+KEYS?"
    r"|TAG\s+VALUES|SERIES|DATABASES|RETENTION\s+POLICIES"
    r"|QUERIES|USERS|SUBSCRIPTIONS|SHARDS|STATS|DIAGNOSTICS)"
    r"(?:\s+(?P<card>EXACT\s+CARDINALITY|CARDINALITY))?"
    r"(?:\s+ON\s+[\w.\"]+)?"
    r"(?:\s+WITH\s+MEASUREMENT\s*(?:=~\s*(?P<mre>/[^/]*/)"
    r"|=\s*(?P<meq>[\w.\"]+)))?"
    r"(?:\s+FROM\s+(?P<from>[\w.\"]+))?"
    r"(?:\s+WITH\s+KEY\s*(?:=~\s*(?P<keyre>/[^/]*/)"
    r"|=\s*(?P<key>[\w\"]+)"
    r"|\s*IN\s*\(\s*(?P<keys>[^)]*?)\s*\)))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE,
)

#: database name reported to Grafana's datasource health check
SHOW_DATABASE_NAME = "iot"


#: singular forms InfluxQL uses in the CARDINALITY statements
_SHOW_SINGULAR = {
    "MEASUREMENT": "MEASUREMENTS",
    "FIELD KEY": "FIELD KEYS",
    "TAG KEY": "TAG KEYS",
}


def compile_show(query: str, points: DataFrame) -> DataFrame:
    """Compile a SHOW meta statement against the points table
    (ts, plc_ip, alias, value[, tags]). CARDINALITY variants reduce
    the listing to its count (EXACT and estimated coincide — the
    engine computes the true distinct count either way); LIMIT pages
    Grafana templating queries."""
    m = _SHOW_RE.match(query.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"unparseable SHOW statement: {query!r}")
    what = re.sub(r"\s+", " ", m.group("what").upper())
    what = _SHOW_SINGULAR.get(what, what)
    frm = m.group("from") or m.group("meq")
    df = points
    if frm:
        df = df.filter(F.col("plc_ip") == F.lit(_unquote(frm)))
    if m.group("mre"):
        # SHOW MEASUREMENTS WITH MEASUREMENT =~ /re/ — Grafana's
        # measurement template variable
        df = df.filter(F.col("plc_ip").rlike(_user_regex(m.group("mre")[1:-1])))
    if m.group("where"):
        # chained template variables: SHOW TAG VALUES ... WHERE
        # "othertag" = 'picked' — tag/measurement conditions only
        # (InfluxDB 1.x rejects field conditions here too). A missing
        # tag compares as the empty string, matching InfluxDB's
        # missing-tag semantics (so != / !~ keep untagged series).
        for c in re.split(
            r"\s+AND\s+", m.group("where"), flags=re.IGNORECASE
        ):
            c = c.strip()
            while c.startswith("(") and c.endswith(")"):
                c = c[1:-1].strip()
            # Grafana's builder may suffix ::tag here too
            c = re.sub(r"::tag\b", "", c)
            wm = re.match(
                r'^\s*(?P<k>"[^"]+"|\w+)\s*(?P<op>=~|!~|!=|=)\s*'
                r"(?:'(?P<v>[^']*)'|(?P<re>/[^/]*/))\s*$",
                c,
            )
            if not wm:
                raise InfluxQLError(f"unsupported SHOW condition {c!r}")
            k = _unquote(wm.group("k"))
            # InfluxDB 1.x rejects FIELD conditions in SHOW ... WHERE
            # ("fields not supported"); silently resolving a field key
            # through the tags map would compare against '' and filter
            # everything — a wrong (empty) template-variable list in
            # Grafana instead of an error. A non-string column of the
            # points table is definitionally a field, not a tag.
            if (
                k not in ("plc_ip", "_measurement")
                and dict(df.dtypes).get(k, "string") != "string"
            ):
                raise InfluxQLError(
                    f"SHOW ... WHERE supports tag conditions only; "
                    f"{k!r} is a field key"
                )
            col = (
                F.col("plc_ip")
                if k in ("plc_ip", "_measurement")
                else F.coalesce(F.element_at("tags", k), F.lit(""))
                if "tags" in df.columns
                else F.col(k) if k in df.columns else F.lit("")
            )
            op = wm.group("op")
            if op in ("=~", "!~"):
                if wm.group("re") is None:
                    raise InfluxQLError(f"{op} needs a /regex/ in {c!r}")
                cond = col.rlike(_user_regex(wm.group("re")[1:-1]))
                df = df.filter(~cond if op == "!~" else cond)
            else:
                if wm.group("v") is None:
                    raise InfluxQLError(f"{op} needs a 'string' in {c!r}")
                cond = col == F.lit(wm.group("v"))
                df = df.filter(~cond if op == "!=" else cond)
    out = _show_base(
        what, m.group("key"), df, points,
        keys=m.group("keys"), keyre=m.group("keyre"),
    )
    if m.group("card"):
        out = out.agg(F.count(F.lit(1)).alias("count"))
    if m.group("limit"):
        out = out.limit(int(m.group("limit")))
    return out


def _show_base(
    what: str, key, df: DataFrame, points: DataFrame,
    keys: str | None = None, keyre: str | None = None,
) -> DataFrame:
    if what == "DATABASES":
        # Grafana's datasource test issues this before anything else
        spark = points.sparkSession
        return spark.createDataFrame([(SHOW_DATABASE_NAME,)], "name string")
    if what == "RETENTION POLICIES":
        # the InfluxDB 1.x default policy row (duration 0s = infinite);
        # actual age-off in this engine is IoTEngine.age_off
        spark = points.sparkSession
        return spark.createDataFrame(
            [("autogen", "0s", "0s", 1, True)],
            "name string, duration string, shardGroupDuration string, "
            "replicaN int, `default` boolean",
        )
    if what == "QUERIES":
        # the gateway executes statements synchronously — nothing is
        # ever in flight when a SHOW QUERIES statement runs, so the
        # honest answer is the empty running-query table (the influx
        # CLI and Chronograf issue this during admin flows)
        spark = points.sparkSession
        return spark.createDataFrame(
            [],
            "qid bigint, query string, database string, "
            "duration string, status string",
        )
    if what == "USERS":
        # no auth layer in the gateway; empty user table, admin column
        # present so client table renderers work
        spark = points.sparkSession
        return spark.createDataFrame([], "`user` string, admin boolean")
    if what == "SUBSCRIPTIONS":
        spark = points.sparkSession
        return spark.createDataFrame(
            [],
            "retention_policy string, name string, mode string, "
            "destinations string",
        )
    if what == "SHARDS":
        # one logical shard = the points table; start/end derived from
        # the actual data span (a MIN/MAX aggregate — pushed to scan
        # statistics, no full read)
        return points.agg(
            F.lit(1).cast("bigint").alias("id"),
            F.lit(SHOW_DATABASE_NAME).alias("database"),
            F.lit("autogen").alias("retention_policy"),
            F.lit(1).cast("bigint").alias("shard_group"),
            F.date_format(
                F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            ).alias("start_time"),
            F.date_format(
                F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            ).alias("end_time"),
            F.lit("").alias("expiry_time"),
            F.lit("").alias("owners"),
        )
    if what == "STATS":
        # real engine statistics, not canned numbers: point count,
        # series (measurement, field) count, measurement count — all
        # one aggregate pass over the points table (count-distinct on
        # two low-cardinality key columns)
        return points.agg(
            F.lit("engine").alias("module"),
            F.count("*").alias("n_points"),
            F.count_distinct("plc_ip", "alias").alias("n_series"),
            F.count_distinct("plc_ip").alias("n_measurements"),
        )
    if what == "DIAGNOSTICS":
        import pyspark

        spark = points.sparkSession
        return spark.createDataFrame(
            [
                ("build", "Version", "1.8-compat"),
                ("build", "Engine", f"pyspark-{pyspark.__version__}"),
                ("runtime", "Master", spark.sparkContext.master),
            ],
            "module string, k string, v string",
        )
    if what == "MEASUREMENTS":
        return df.select(F.col("plc_ip").alias("name")).distinct().orderBy("name")
    if what == "SERIES":
        # one row per distinct series key: measurement[,tag=val…] with
        # tags in sorted key order, InfluxDB's canonical formatting
        if "tags" in df.columns:
            tagpart = F.array_join(
                F.transform(
                    F.array_sort(F.map_entries("tags")),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                ),
                ",",
            )
            key = F.when(
                F.length(tagpart) > 0,
                F.concat_ws(",", F.col("plc_ip"), tagpart),
            ).otherwise(F.col("plc_ip"))
        else:
            key = F.col("plc_ip")
        return df.select(key.alias("key")).distinct().orderBy("key")
    if what == "FIELD KEYS":
        return (
            df.select(
                F.col("alias").alias("fieldKey"),
                F.lit("float").alias("fieldType"),
            )
            .distinct()
            .orderBy("fieldKey")
        )
    if what == "TAG KEYS":
        if "tags" in df.columns:
            return (
                df.select(F.explode(F.map_keys("tags")).alias("tagKey"))
                .distinct()
                .orderBy("tagKey")
            )
        return df.select(F.col("plc_ip").alias("tagKey")).filter(F.lit(False))
    # TAG VALUES
    if keys is not None or keyre is not None:
        # multi-key (WITH KEY IN (...)) / regex (WITH KEY =~ /re/)
        # forms: explode the tag map once and filter the key column —
        # InfluxDB returns (key, value) ordered by key then value.
        # Validate the regex BEFORE the tags-column early-return so a
        # malformed pattern errors identically on tag-less tables.
        keyre_pat = _user_regex(keyre[1:-1]) if keyre is not None else None
        if "tags" not in df.columns:
            return df.select(
                F.lit("").alias("key"), F.col("plc_ip").alias("value")
            ).filter(F.lit(False))
        entries = df.select(F.explode(F.map_entries("tags")).alias("e")).select(
            F.col("e.key").alias("key"), F.col("e.value").alias("value")
        )
        if keys is not None:
            wanted = [
                _unquote(k.strip()) for k in keys.split(",") if k.strip()
            ]
            if not wanted:
                raise InfluxQLError("WITH KEY IN (...) needs at least one key")
            entries = entries.filter(F.col("key").isin(wanted))
        else:
            entries = entries.filter(F.col("key").rlike(keyre_pat))
        return entries.distinct().orderBy("key", "value")
    if not key:
        raise InfluxQLError("SHOW TAG VALUES requires WITH KEY = <key>")
    if "tags" in df.columns:
        return (
            df.select(
                F.lit(_unquote(key)).alias("key"),
                F.element_at("tags", _unquote(key)).alias("value"),
            )
            .filter(F.col("value").isNotNull())
            .distinct()
            .orderBy("value")
        )
    return df.select(
        F.lit(_unquote(key)).alias("key"), F.col("plc_ip").alias("value")
    ).filter(F.lit(False))


# --------------------------------------------------------------------------
# DELETE / DROP MEASUREMENT — InfluxDB's ad-hoc retention statements.
# Spark storage is immutable parquet, so deletion compiles to the
# COMPLEMENT: the rows that survive. The caller overwrites the table
# with the result (exactly how b25 age-off works); on Delta the same
# predicate would drive a real DELETE.
# --------------------------------------------------------------------------
#: a measurement name: double-quoted (any characters but ``"``) or bare
_MEASUREMENT = r'(?:"[^"]*"|[\w.]+)'
_DELETE_RE = re.compile(
    rf"^\s*(?:DELETE\s+FROM\s+(?P<from>{_MEASUREMENT})(?:\s+WHERE\s+(?P<where>.+?))?"
    rf"|DROP\s+SERIES\s+FROM\s+(?P<sfrom>{_MEASUREMENT})"
    r"(?:\s+WHERE\s+(?P<swhere>.+?))?"
    rf"|DROP\s+MEASUREMENT\s+(?P<drop>{_MEASUREMENT}))\s*$",
    re.IGNORECASE | re.DOTALL,
)


def delete_measurement(query: str) -> str:
    """The measurement (``plc_ip``) a DELETE / DROP statement names."""
    m = _DELETE_RE.match(query.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"unparseable DELETE/DROP statement: {query!r}")
    return _unquote(m.group("from") or m.group("sfrom") or m.group("drop"))


def compile_delete(query: str, points: DataFrame) -> DataFrame:
    """Compile DELETE FROM m [WHERE time/tag conds], DROP SERIES FROM m
    [WHERE tag conds], or DROP MEASUREMENT m against the points table;
    returns the surviving rows. DROP SERIES rejects time conditions
    exactly as InfluxDB does (series are whole — delete by time with
    DELETE)."""
    m = _DELETE_RE.match(query.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"unparseable DELETE/DROP statement: {query!r}")
    if m.group("drop"):
        return points.filter(F.col("plc_ip") != F.lit(_unquote(m.group("drop"))))
    if m.group("sfrom"):
        if m.group("swhere") and any(
            _TIME_COND_RE.match(c.strip())
            for c in re.split(
                r"\s+AND\s+", m.group("swhere"), flags=re.IGNORECASE
            )
        ):
            raise InfluxQLError(
                "DROP SERIES does not support time conditions"
            )
        where = f" WHERE {m.group('swhere')}" if m.group("swhere") else ""
        return compile_delete(
            f"DELETE FROM {m.group('sfrom')}{where}", points
        )

    victim = points.filter(F.col("plc_ip") == F.lit(_unquote(m.group("from"))))
    cond = F.lit(True)
    if m.group("where"):
        for c in re.split(r"\s+AND\s+", m.group("where"), flags=re.IGNORECASE):
            c = c.strip()
            tm = _TIME_COND_RE.match(c)
            if tm:
                lit = F.lit(tm.group("ts")).cast("timestamp")
                op = tm.group("op")
                cond = cond & (
                    F.col("ts") >= lit if op == ">=" else
                    F.col("ts") > lit if op == ">" else
                    F.col("ts") <= lit if op == "<=" else
                    F.col("ts") < lit
                )
                continue
            gm = _TAG_COND_RE.match(c)
            if gm:
                cond = cond & (
                    F.col(_unquote(gm.group("key"))) == F.lit(gm.group("val"))
                )
                continue
            raise InfluxQLError(f"unsupported DELETE condition {c!r}")
    doomed = victim.filter(cond).select(points.columns)
    return points.exceptAll(doomed)


# --------------------------------------------------------------------------
# Subqueries: SELECT ... FROM (SELECT ...) — Grafana's idiom for
# "aggregate of an aggregate" (e.g. max of the 5-minute means). The
# inner statement compiles first; its `time` column becomes the outer
# statement's `ts`, and the outer statement is compiled against the
# inner result. One level of nesting per InfluxDB 1.x semantics
# (inner may itself nest — recursion handles it).
# --------------------------------------------------------------------------
def _split_subquery(q: str):
    """Return (outer_template, inner_text) for SELECT ... FROM ( ... )
    statements, else None. Balanced-paren scan — the inner text
    contains parens (time(5m), fill(...))."""
    m = re.search(r"\bFROM\s*\(", q, re.IGNORECASE)
    if not m:
        return None
    start = q.index("(", m.start())
    depth, i = 0, start
    while i < len(q):
        if q[i] == "(":
            depth += 1
        elif q[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    if depth != 0:
        raise InfluxQLError(f"unbalanced parentheses in {q!r}")
    inner = q[start + 1 : i]
    outer = q[: m.end() - 1].rstrip().removesuffix("FROM").rstrip()
    outer = f"{outer} FROM __sub__ {q[i + 1:].strip()}".strip()
    return outer, inner


def compile_statement(query: str, table: DataFrame, **kw) -> DataFrame:
    """compile_influxql with subquery support."""
    sub = _split_subquery(query)
    if sub is None:
        return compile_influxql(query, table, **kw)
    outer_q, inner_q = sub
    inner_df = compile_statement(inner_q, table, **kw)
    if "time" in inner_df.columns:
        inner_df = inner_df.withColumnRenamed("time", "ts")
    # rollup routing only applies to the innermost raw-table scan
    return compile_influxql(outer_q, inner_df)


# --------------------------------------------------------------------------
# SELECT ... INTO <target> — the statement InfluxDB continuous queries
# are written in (and the one-shot backfill idiom `SELECT ... INTO ...
# WHERE time < now() GROUP BY time(1h)`). The compiled plan is the
# SELECT without the INTO clause; the caller owns the write (the
# gateway's InfluxAPI.execute appends it to <write_dir>__<target>).
# --------------------------------------------------------------------------
_INTO_RE = re.compile(
    r"^(?P<head>\s*SELECT\s+.+?)\s+INTO\s+(?P<target>[\w.\"]+)\s+"
    r"(?P<tail>FROM\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)


def split_into(query: str) -> tuple[str | None, str]:
    """Return (target_measurement | None, query-without-INTO)."""
    m = _INTO_RE.match(query.strip().rstrip(";"))
    if not m:
        return None, query
    return _unquote(m.group("target")), f"{m.group('head')} {m.group('tail')}"


def compile_into(
    query: str, table: DataFrame, **kw
) -> tuple[str, DataFrame]:
    """Compile a SELECT ... INTO statement → (target name, result plan)."""
    target, rest = split_into(query)
    if target is None:
        raise InfluxQLError(f"statement has no INTO clause: {query!r}")
    return target, compile_statement(rest, table, **kw)


# --------------------------------------------------------------------------
# CREATE CONTINUOUS QUERY — the statement InfluxDB 1.x users schedule
# rollups with (the CQ half of the reference's retention+rollup
# machinery, README.md:3). Parsed to a spec that
# InfluxAPI.run_continuous_queries runs on each CQ-service tick (the
# RESAMPLE FOR window bounds what a tick recomputes) and
# IoTEngine.run_cq runs once as a batch backfill.
# --------------------------------------------------------------------------
_CREATE_CQ_RE = re.compile(
    r"^\s*CREATE\s+CONTINUOUS\s+QUERY\s+(?P<name>[\w\"]+)\s+ON\s+"
    r"(?P<db>[\w.\"]+)"
    rf"(?:\s+RESAMPLE(?:\s+EVERY\s+(?P<every>{_DUR_RE_SRC}))?"
    rf"(?:\s+FOR\s+(?P<for>{_DUR_RE_SRC}))?)?"
    r"\s+BEGIN\s+(?P<body>.+?)\s+END\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CQ_RE = re.compile(
    r"^\s*DROP\s+CONTINUOUS\s+QUERY\s+(?P<name>[\w\"]+)\s+ON\s+"
    r"(?P<db>[\w.\"]+)\s*$",
    re.IGNORECASE,
)


@dataclass
class CQSpec:
    """A parsed CREATE CONTINUOUS QUERY statement."""

    name: str
    db: str
    target: str  # INTO measurement — the rollup table name
    select: str  # inner SELECT without the INTO clause
    group_time_s: int  # the rollup bucket width
    resample_every_s: int | None = None
    resample_for_s: int | None = None


def compile_create_cq(statement: str) -> CQSpec:
    """Parse CREATE CONTINUOUS QUERY into a CQSpec. The body must be a
    SELECT ... INTO ... GROUP BY time(N) statement (validated by the
    same parser that executes it — a spec that parses here is
    guaranteed runnable by compile_into)."""
    m = _CREATE_CQ_RE.match(statement.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"unparseable CREATE CONTINUOUS QUERY: {statement!r}")
    target, rest = split_into(m.group("body"))
    if target is None:
        raise InfluxQLError("continuous query body requires an INTO clause")
    q = parse(rest)
    if q.group_time_s is None:
        raise InfluxQLError("continuous query body requires GROUP BY time()")
    return CQSpec(
        name=_unquote(m.group("name")),
        db=_unquote(m.group("db")),
        target=target,
        select=rest,
        group_time_s=q.group_time_s,
        resample_every_s=(
            int(_duration_s(m.group("every"))) if m.group("every") else None
        ),
        resample_for_s=(
            int(_duration_s(m.group("for"))) if m.group("for") else None
        ),
    )


def parse_drop_cq(statement: str) -> tuple[str, str]:
    """DROP CONTINUOUS QUERY <name> ON <db> → (name, db)."""
    m = _DROP_CQ_RE.match(statement.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"unparseable DROP CONTINUOUS QUERY: {statement!r}")
    return _unquote(m.group("name")), _unquote(m.group("db"))
