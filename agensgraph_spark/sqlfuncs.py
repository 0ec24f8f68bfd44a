"""PostgreSQL-compatible SQL scalar helpers that Spark SQL lacks.

``SIMILAR TO`` and friends: Spark has LIKE and RLIKE but not the SQL
standard's SIMILAR TO pattern language (SQL regex: ``%``/``_``
wildcards plus POSIX-ish ``|``, ``*``, ``+``, ``?``, ``{m,n}``,
``(...)``, ``[...]``). PostgreSQL implements it by escaping the
pattern into a plain regex and delegating to the regex engine
(reference: src/backend/utils/adt/regexp.c:similar_escape_internal,
like.c for the LIKE fast path); ``similar_escape`` below is a
behavior-faithful reimplementation of that translation, and
``similar_to`` applies it through ``rlike`` — JVM-side regex, no UDF.

``regexp_match``: PostgreSQL's first-match capture-group array
(reference: regexp.c:regexp_match). Composed from ``rlike`` +
``regexp_extract`` per group — pure column expressions.

Divergences (documented, not silent):
- Escaped alphanumerics pass through as ``\\c`` in both engines, so
  POSIX-class escapes like ``\\d`` work; Java regex and PostgreSQL ARE
  agree on the common classes but not exotica (``\\m``/``\\y`` word
  boundaries are PostgreSQL-only).
- ``regexp_match`` yields '' (not NULL) for a group that did not
  participate in the match — Spark's regexp_extract has no
  participated-vs-empty distinction.
"""

from __future__ import annotations

import datetime
import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["similar_escape", "similar_to", "regexp_match",
           "substring_similar", "to_char", "to_char_number",
           "age_parts", "age", "make_date", "to_date", "to_timestamp",
           "to_number"]


def similar_escape(pattern: str, escape: str | None = "\\",
                   _lazy_part1: bool = False) -> str:
    """Translate a SQL SIMILAR TO pattern into an anchored regex —
    the same state machine as the reference's
    regexp.c:similar_escape_internal (incl. the escape-double-quote
    part separators SUBSTRING(str SIMILAR pat ESCAPE e) uses).

    ``escape=None`` (SQL: ESCAPE '') disables the escape character.

    ``_lazy_part1``: PostgreSQL's engine propagates the ``{1,1}?``
    non-greediness into the whole part1 subexpression; Java's does
    not, so for SUBSTRING evaluation ``%`` before the first separator
    is emitted as lazy ``.*?`` (boolean-match-equivalent; only capture
    positions differ — which is the point). The default (reference-
    faithful) output is what the translation pins test against.
    """
    return _similar_escape(pattern, escape, _lazy_part1)[0]


def _similar_escape(pattern: str, escape: str | None = "\\",
                    _lazy_part1: bool = False) -> tuple[str, int]:
    """similar_escape plus the separator count (0 or 2) — SUBSTRING
    needs to know whether the pattern had escape-double-quote
    separators at all (regexp.c: 'With none, we act as though part1
    and part3 are empty' — the whole match is the answer)."""
    if escape is not None and len(escape) != 1:
        raise ValueError("escape string must be empty or one character")
    out: list[str] = ["^(?:"]
    afterescape = False
    incharclass = False
    nquotes = 0
    for c in pattern:
        if afterescape:
            if c == '"' and not incharclass:
                # SUBSTRING part separators: part1 non-greedy, part2
                # capturing + greedy, part3 non-capturing (regexp.c's
                # ^(?:part1){1,1}?(part2){1,1}(?:part3)$ expansion)
                if nquotes == 0:
                    out.append("){1,1}?(")
                elif nquotes == 1:
                    out.append("){1,1}(?:")
                else:
                    raise ValueError(
                        "SQL regular expression may not contain more "
                        "than two escape-double-quote separators")
                nquotes += 1
            else:
                out.append("\\" + c)
            afterescape = False
        elif escape is not None and c == escape:
            afterescape = True
        elif incharclass:
            if c == "\\":
                out.append("\\")
            out.append(c)
            if c == "]":
                incharclass = False
        elif c == "[":
            out.append(c)
            incharclass = True
        elif c == "%":
            out.append(".*?" if _lazy_part1 and nquotes == 0 else ".*")
        elif c == "_":
            out.append(".")
        elif c == "(":
            # non-capturing, so user parens don't shift SUBSTRING's
            # capture group
            out.append("(?:")
        elif c in "\\.^$":
            out.append("\\" + c)
        else:
            out.append(c)
    out.append(")$")
    return "".join(out), nquotes


def similar_to(col: Column | str, pattern: str,
               escape: str | None = "\\") -> Column:
    """``col SIMILAR TO pattern [ESCAPE escape]`` as a boolean column:
    pattern must match the ENTIRE string (the translation anchors it).
    JVM-side rlike — pushdown/codegen-friendly, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(similar_escape(pattern, escape))


def substring_similar(col: Column | str, pattern: str,
                      escape: str | None = "\\") -> Column:
    """SQL standard ``SUBSTRING(string SIMILAR pattern ESCAPE esc)``
    (PostgreSQL's three-argument substring): the part of the string
    matched by the capture group between the two escape-double-quote
    separators. NULL when the pattern does not match (regexp_extract
    returns '' on no-match, so the rlike guard restores NULL).

    Part1 ``%`` is emitted lazy (see similar_escape._lazy_part1):
    Java regex does not propagate PostgreSQL's subexpression
    non-greediness, and SQL requires part1 to match the SMALLEST
    prefix. Non-``%`` greedy constructs in part1 keep Java
    semantics — a documented divergence.

    A pattern with NO separators has no capture group — the reference
    acts as though part1/part3 are empty (regexp.c:729-733), i.e. the
    whole match is the answer: extract group 0."""
    c = F.col(col) if isinstance(col, str) else col
    rx, nquotes = _similar_escape(pattern, escape, _lazy_part1=True)
    return F.when(c.rlike(rx), F.regexp_extract(c, rx, 1 if nquotes else 0))


def _count_capture_groups(pattern: str) -> int:
    """Capturing groups counted LEXICALLY (unescaped ``(`` not followed
    by ``?``, outside char classes; Java named groups ``(?<name>...)``
    count too) — NOT by compiling with Python's ``re``: matching runs
    in Java regex, and a pattern valid in Java but not Python (e.g.
    possessive ``a*+``) must not fail at plan-construction time."""
    n, i, incls = 0, 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if incls:
            if ch == "]":
                incls = False
        elif ch == "[":
            incls = True
        elif ch == "(":
            nxt = pattern[i + 1:i + 2]
            if nxt != "?":
                n += 1
            elif (pattern[i + 2:i + 3] == "<"
                  and pattern[i + 3:i + 4] not in ("=", "!")):
                n += 1  # (?<name>...) — capturing in Java
        i += 1
    return n


def regexp_match(col: Column | str, pattern: str) -> Column:
    """PostgreSQL ``regexp_match(string, pattern)``: NULL when the
    pattern does not match anywhere in the string, else the array of
    capture-group texts of the FIRST match (the whole match when the
    pattern has no groups)."""
    c = F.col(col) if isinstance(col, str) else col
    ngroups = _count_capture_groups(pattern)
    idxs = range(1, ngroups + 1) if ngroups else (0,)
    return F.when(
        c.rlike(pattern),
        F.array(*[F.regexp_extract(c, pattern, i) for i in idxs]))


# ---------------------------------------------------------------------------
# PostgreSQL formatting-function shims (reference:
# src/backend/utils/adt/formatting.c — to_char template parsing;
# src/backend/utils/adt/timestamp.c:timestamp_age — symbolic age;
# src/backend/utils/adt/date.c:make_date). A user porting PG SQL hits
# to_char almost immediately; the common template patterns translate
# to Spark's JVM-side date_format / calendar functions — pure column
# expressions, no UDF. Unsupported patterns REFUSE LOUDLY at plan
# construction (ValueError naming the token) instead of silently
# emitting wrong text.


def _c(col: "Column | str") -> Column:
    return F.col(col) if isinstance(col, str) else col


# Compiled-template cache — the Spark analog of the reference's format-
# picture caches (formatting.c:DCH_cache_getnew/NUM_cache, which keep
# the last parsed pictures precisely because template parsing repeats
# across calls). Building one of these shims' Column trees costs real
# driver time (the to_char battery's tree is ~1s of py4j round-trips),
# and the tree depends ONLY on (column name, pattern), so string-named
# invocations return the identical immutable Column. Keyed weakly on
# the active SparkContext: a restarted JVM gets a fresh cache instead
# of stale java-object handles. Column-argument calls (the column is an
# arbitrary expression) are never cached.
_TEMPLATE_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]
_TEMPLATE_CACHE_MAX = 512


def _template_cached(fn):
    global _TEMPLATE_CACHE
    if _TEMPLATE_CACHE is None:
        import weakref
        _TEMPLATE_CACHE = weakref.WeakKeyDictionary()

    @functools.wraps(fn)
    def wrapper(col, pattern):
        if not isinstance(col, str):
            return fn(col, pattern)
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        if sc is None:
            return fn(col, pattern)
        cache = _TEMPLATE_CACHE.get(sc)
        if cache is None:
            cache = _TEMPLATE_CACHE[sc] = {}
        key = (fn.__name__, col, pattern)
        hit = cache.get(key)
        if hit is None:
            hit = fn(col, pattern)
            if len(cache) >= _TEMPLATE_CACHE_MAX:
                cache.clear()
            cache[key] = hit
        return hit
    return wrapper


def _scan_quoted(pattern: str, i: int, fn: str) -> "tuple[str, int]":
    """Scan a double-quoted template literal starting at
    ``pattern[i] == '"'``. PG (formatting.c) lets a backslash escape
    the next character inside the quotes — notably ``\\\"`` embeds a
    double quote in the output. Returns (literal text, index past the
    closing quote); unterminated raises with the shim's name."""
    buf: list[str] = []
    j, n = i + 1, len(pattern)
    while j < n:
        c = pattern[j]
        if c == "\\" and j + 1 < n:
            buf.append(pattern[j + 1])
            j += 2
            continue
        if c == '"':
            return "".join(buf), j + 1
        buf.append(c)
        j += 1
    raise ValueError(f"{fn}: unterminated quoted literal in {pattern!r}")


def _num(pat: str, fn):
    """Zero-padded via date_format normally; FM (fill mode) drops the
    leading zeros — the calendar-field integer rendered bare."""
    return lambda ts, fm: (fn(ts).cast("string") if fm
                           else F.date_format(ts, pat))


def _name(pat: str, case: str, pad: int | None):
    """Day/month names: PG blank-pads Day/Month to 9 chars (the
    longest English name) unless FM; DAY/MON etc. select the case."""
    def build(ts: Column, fm: bool) -> Column:
        c = F.date_format(ts, pat)
        if case == "upper":
            c = F.upper(c)
        elif case == "lower":
            c = F.lower(c)
        if pad is not None and not fm:
            c = F.rpad(c, pad, " ")
        return c
    return build


def _hh12_bare(ts: Column) -> Column:
    h = F.hour(ts) % 12
    return F.when(h == 0, F.lit(12)).otherwise(h)


def _meridiem(upper: bool, dots: bool):
    def build(ts: Column, fm: bool) -> Column:
        if not dots:
            c = F.date_format(ts, "a")
            return c if upper else F.lower(c)
        am, pm = ("A.M.", "P.M.") if upper else ("a.m.", "p.m.")
        return F.when(F.hour(ts) < 12, F.lit(am)).otherwise(F.lit(pm))
    return build


def _ww(ts: Column, fm: bool) -> Column:
    # PG WW: week of year where week 1 starts Jan 1 (formatting.c:
    # (doy - 1) / 7 + 1), not ISO
    w = ((F.dayofyear(ts) - 1) / 7).cast("int") + 1
    return w.cast("string") if fm else F.lpad(w.cast("string"), 2, "0")


def _iw(ts: Column, fm: bool) -> Column:
    w = F.weekofyear(ts)
    return w.cast("string") if fm else F.lpad(w.cast("string"), 2, "0")


def _tz_abbrev(upper: bool):
    """PG TZ/tz: abbreviation of the SESSION time zone (formatting.c:
    DCH_TZ uses tzn of the server zone; here spark.sql.session.timeZone)
    rendered by the JVM's short zone name — upper for TZ, lower for tz.
    FM has no effect (the abbreviation carries no padding)."""
    def build(ts: Column, fm: bool) -> Column:
        c = F.date_format(ts, "zzz")
        return F.upper(c) if upper else F.lower(c)
    return build


def _tz_offset(ts: Column, fm: bool) -> Column:
    """PG OF: UTC offset of the session zone, sign + zero-padded hours,
    ':MM' only when the minute part is nonzero (formatting.c:DCH_OF
    '%+0*ld' then optional ':%02ld'). Java 'xxx' always emits +HH:MM;
    strip the ':00' tail, and under FM drop the hour zero-pad the way
    PG's S_FM collapses the pad width to 0."""
    c = F.regexp_replace(F.date_format(ts, "xxx"), ":00$", "")
    if fm:
        c = F.regexp_replace(c, r"^([+-])0(?=[0-9])", "$1")
    return c


def _tzh(ts: Column, fm: bool) -> Column:
    """PG TZH: sign + 2-digit hours of the session-zone UTC offset
    (formatting.c:2791 DCH_TZH '%c%02d'). Java 'xxx' renders the full
    +HH:MM offset; the head slice is exactly sign+hours. FM has no
    effect (the PG case has no S_FM branch)."""
    return F.substring(F.date_format(ts, "xxx"), 1, 3)


def _tzm(ts: Column, fm: bool) -> Column:
    """PG TZM: 2-digit ABSOLUTE offset minutes, no sign
    (formatting.c:2798 DCH_TZM '%02d' of abs(gmtoff)%%3600/60) — the
    tail slice of Java's +HH:MM. FM has no effect."""
    return F.substring(F.date_format(ts, "xxx"), 5, 2)


def _y_comma(ts: Column, fm: bool) -> Column:
    """PG Y,YYY: year with a comma after the thousands digit —
    formatting.c:DCH_Y_YYY sprintf('%d,%03d', year/1000, year%1000),
    identical with or without FM (the token has no fill-mode variant)."""
    y = F.year(ts)
    s = F.concat(F.floor(y / 1000).cast("int").cast("string"),
                 F.lit(","),
                 F.lpad(F.pmod(y, F.lit(1000)).cast("string"), 3, "0"))
    return _ad_guard(ts, s, "Y,YYY")


def _ad_guard(ts: Column, v: Column, tok: str) -> Column:
    """Year-digit tokens mirror PG only for AD years: PG renders BC
    years 1-based with the era carried by BC/AD tokens, while Spark's
    proleptic year <= 0 would feed these digit extractions silently
    wrong values (ceil(0/100) = '00' centuries, negative Y,YYY heads).
    Policy here is refuse loudly, so BC inputs raise at runtime."""
    return F.when(
        F.year(ts) <= 0,
        F.raise_error(F.lit(
            f"to_char: {tok} is not supported for BC timestamps by this "
            "shim (PG renders BC years 1-based; use the AD/BC era "
            "tokens to detect them)")).cast("string"),
    ).otherwise(v)


def _y_tail(n: int):
    """PG YYY/YY/Y-style year-digit tails: the last ``n`` digits of the
    year, zero-padded to ``n`` unless FM (formatting.c DCH_YYY
    '%0*d' with width 0 under S_FM)."""
    def build(ts: Column, fm: bool) -> Column:
        v = F.pmod(F.year(ts), F.lit(10 ** n))
        s = v.cast("string") if fm else F.lpad(v.cast("string"), n, "0")
        return _ad_guard(ts, s, "Y" * n)
    return build


def _century(ts: Column, fm: bool) -> Column:
    """PG CC: century, 21st starts 2001-01-01 (formatting.c DCH_CC —
    ceil(year/100) for AD years), 2-digit zero-padded unless FM."""
    c = F.ceil(F.year(ts) / 100).cast("int")
    s = c.cast("string") if fm else F.lpad(c.cast("string"), 2, "0")
    return _ad_guard(ts, s, "CC")


def _julian_day(ts: Column, fm: bool) -> Column:
    """PG J: Julian Day number (days since 4714-11-24 BC proleptic
    Gregorian; 2000-01-01 = 2451545, matching date2j, datetime.c).
    Computed as days-since-epoch + 2440588 — pure column arithmetic."""
    return (F.datediff(ts.cast("date"), F.lit("1970-01-01").cast("date"))
            + F.lit(2440588)).cast("string")


def _ssss(ts: Column, fm: bool) -> Column:
    """PG SSSS: seconds past midnight (0-86399), no padding."""
    return (F.hour(ts) * 3600 + F.minute(ts) * 60
            + F.second(ts)).cast("string")


def _ff(n: int):
    """PG FF1..FF6 (v13+): fractional seconds TRUNCATED to ``n``
    digits, zero-padded to ``n`` (formatting.c DCH_FF1..FF6); FM is a
    no-op (the field is inherently fixed-width)."""
    def build(ts: Column, fm: bool) -> Column:
        micros = F.pmod(F.unix_micros(ts.cast("timestamp")),
                        F.lit(1_000_000))
        v = F.floor(micros / (10 ** (6 - n))).cast("long")
        return F.lpad(v.cast("string"), n, "0")
    return build


def _ordinal(seg: Column, upper: bool) -> Column:
    """PG TH/th suffix: append the English ordinal suffix to the
    PRECEDING field — but only when its rendered text ends in a digit
    (formatting.c str_numth copies the suffix only for numeric output;
    on names the suffix is dropped). 11-13 take 'th' regardless of the
    last digit."""
    last1 = F.substring(seg, -1, 1)
    last2 = F.substring(seg, -2, 2).cast("int")
    suf = (F.when(F.pmod(last2, F.lit(100)).isin(11, 12, 13), F.lit("th"))
            .when(last1 == "1", F.lit("st"))
            .when(last1 == "2", F.lit("nd"))
            .when(last1 == "3", F.lit("rd"))
            .otherwise(F.lit("th")))
    if upper:
        suf = F.upper(suf)
    return F.when(last1.rlike("[0-9]"), F.concat(seg, suf)).otherwise(seg)


_RM_UPPER = ["I", "II", "III", "IV", "V", "VI",
             "VII", "VIII", "IX", "X", "XI", "XII"]


def _roman_month(upper: bool):
    """PG RM/rm: month in Roman numerals, left-justified blank-padded
    to 4 unless FM (formatting.c DCH_RM '%*s' width -4)."""
    vals = _RM_UPPER if upper else [m.lower() for m in _RM_UPPER]

    def build(ts: Column, fm: bool) -> Column:
        c = F.element_at(F.lit(vals), F.month(ts))
        return c if fm else F.rpad(c, 4, " ")
    return build


def _iso_year_col(ts: Column) -> Column:
    # ISO week-numbering year = calendar year of the ISO week's
    # Thursday (shift the date to its week's Thursday, take the year)
    d = ts.cast("date")
    iso_dow = ((F.dayofweek(d) + 5) % 7) + 1  # Mon=1..Sun=7
    return F.year(F.date_add(d, 4 - iso_dow))


def _iso_year(n: int):
    """PG IYYY/IYY/IY/I: ISO 8601 week-numbering year, last ``n``
    digits, zero-padded unless FM (formatting.c DCH_IYYY family)."""
    def build(ts: Column, fm: bool) -> Column:
        v = F.pmod(_iso_year_col(ts), F.lit(10 ** n)) if n < 4 \
            else _iso_year_col(ts)
        s = v.cast("string")
        return _ad_guard(ts, s if fm else F.lpad(s, n, "0"),
                         "I" + "Y" * (n - 1))
    return build


def _era(upper: bool, dots: bool):
    """PG AD/BC (and dotted / lowercase) era tokens: Spark's proleptic
    ISO year <= 0 is BC (year 0 = 1 BC); FM has no effect."""
    def build(ts: Column, fm: bool) -> Column:
        if dots:
            ad, bc = ("A.D.", "B.C.") if upper else ("a.d.", "b.c.")
        else:
            ad, bc = ("AD", "BC") if upper else ("ad", "bc")
        return F.when(F.year(ts) > 0, F.lit(ad)).otherwise(F.lit(bc))
    return build


# r14 §4 (per-row CPU): tokens whose builder is EXACTLY a bare
# `date_format(ts, <java pattern>)` fuse with adjacent literals and
# each other into ONE date_format call — the per-row cost of
# date_format is dominated by the micros->LocalDateTime conversion and
# string assembly, which a 6-field fused pattern pays once instead of
# six times ('YYYY-MM-DD HH24:MI:SS' was six calls). Output is
# byte-identical by construction: a fused pattern formats the same
# fields with the same letters and renders literal runs quoted.
# Key = token name; value = the java pattern fragment. _FUSE applies
# in normal mode, _FUSE_FM in FM mode (FM numeric tokens render bare
# ints, NOT date_format, so only the name/meridiem family stays).
_FUSE: dict = {
    "YYYY": "yyyy", "YY": "yy", "MM": "MM", "MI": "mm", "MS": "SSS",
    "DDD": "DDD", "DD": "dd", "HH24": "HH", "HH12": "hh", "HH": "hh",
    "SS": "ss", "US": "SSSSSS", "Q": "Q",
    "Mon": "MMM", "Dy": "EEE", "AM": "a", "PM": "a",
}
_FUSE_FM: dict = {
    # FM drops the 9-char blank pad from Day/Month, leaving the bare
    # date_format; Mon/Dy/AM/PM ignore FM entirely
    "Day": "EEEE", "Month": "MMMM",
    "Mon": "MMM", "Dy": "EEE", "AM": "a", "PM": "a",
}


# Longest-match token table. Callable -> supported; None -> recognized
# PG token this shim deliberately refuses (loudly).
_TOCHAR_TOKENS: "list[tuple[str, object]]" = [
    ("A.M.", _meridiem(True, True)), ("P.M.", _meridiem(True, True)),
    ("a.m.", _meridiem(False, True)), ("p.m.", _meridiem(False, True)),
    ("Y,YYY", _y_comma),
    ("YYYY", _num("yyyy", F.year)), ("YYY", _y_tail(3)),
    ("YY", _num("yy", lambda ts: F.year(ts) % 100)),
    ("Y", _y_tail(1)),
    ("IYYY", _iso_year(4)), ("IYY", _iso_year(3)), ("IY", _iso_year(2)),
    ("MONTH", _name("MMMM", "upper", 9)),
    ("Month", _name("MMMM", "title", 9)),
    ("month", _name("MMMM", "lower", 9)),
    ("MON", _name("MMM", "upper", None)),
    ("Mon", _name("MMM", "title", None)),
    ("mon", _name("MMM", "lower", None)),
    ("MM", _num("MM", F.month)),
    ("MI", _num("mm", F.minute)),
    ("MS", _num("SSS", lambda ts: (F.pmod(F.unix_micros(ts.cast("timestamp")),
                                          F.lit(1_000_000)) / 1000).cast("int"))),
    ("DAY", _name("EEEE", "upper", 9)),
    ("Day", _name("EEEE", "title", 9)),
    ("day", _name("EEEE", "lower", 9)),
    ("DDD", _num("DDD", F.dayofyear)),
    ("DD", _num("dd", F.dayofmonth)),
    ("DY", _name("EEE", "upper", None)),
    ("Dy", _name("EEE", "title", None)),
    ("dy", _name("EEE", "lower", None)),
    ("ID", lambda ts, fm: (((F.dayofweek(ts) + 5) % 7) + 1).cast("string")),
    ("D", lambda ts, fm: F.dayofweek(ts).cast("string")),
    ("HH24", _num("HH", F.hour)),
    ("HH12", lambda ts, fm: (_hh12_bare(ts).cast("string") if fm
                             else F.date_format(ts, "hh"))),
    ("HH", lambda ts, fm: (_hh12_bare(ts).cast("string") if fm
                           else F.date_format(ts, "hh"))),
    ("FF1", _ff(1)), ("FF2", _ff(2)), ("FF3", _ff(3)),
    ("FF4", _ff(4)), ("FF5", _ff(5)), ("FF6", _ff(6)),
    ("SSSS", _ssss), ("SS", _num("ss", F.second)),
    ("US", _num("SSSSSS", lambda ts: F.pmod(
        F.unix_micros(ts.cast("timestamp")), F.lit(1_000_000)).cast("int"))),
    ("A.D.", _era(True, True)), ("B.C.", _era(True, True)),
    ("a.d.", _era(False, True)), ("b.c.", _era(False, True)),
    ("AM", _meridiem(True, False)), ("PM", _meridiem(True, False)),
    ("am", _meridiem(False, False)), ("pm", _meridiem(False, False)),
    ("IW", _iw), ("I", _iso_year(1)),
    ("WW", _ww),
    # PG W: week of month, (day-1)/7+1 (formatting.c DCH_W)
    ("W", lambda ts, fm: (((F.dayofmonth(ts) - 1) / 7).cast("int")
                          + 1).cast("string")),
    ("Q", _num("Q", F.quarter)),
    ("CC", _century), ("J", _julian_day),
    ("RM", _roman_month(True)), ("rm", _roman_month(False)),
    ("TZH", _tzh), ("TZM", _tzm),
    ("TZ", _tz_abbrev(True)), ("tz", _tz_abbrev(False)),
    ("OF", _tz_offset),
    ("BC", _era(True, False)), ("AD", _era(True, False)),
    ("bc", _era(False, False)), ("ad", _era(False, False)),
]


@_template_cached
def to_char(col: "Column | str", pattern: str) -> Column:
    """PostgreSQL ``to_char(timestamp, text)`` for the common template
    patterns (formatting.c:DCH_to_char): YYYY/YY, MM, DD/DDD, HH24/
    HH12/HH, MI, SS, MS/US, Mon/Month/Dy/Day families in all three
    cases, AM/PM (incl. dotted), D/ID, Q, W/WW/IW, session-timezone
    TZ/tz/OF/TZH/TZM, Y,YYY digit grouping and the Y/YYY year tails, ISO
    week-numbering years IYYY/IYY/IY/I, century CC, Julian day J,
    seconds-past-midnight SSSS, fractional seconds FF1-FF6, TH/th
    ordinal suffixes (digit-gated like str_numth), Roman-numeral
    months RM/rm, era
    AD/BC (incl. dotted + lowercase), double-quoted literals (with
    backslash-escaped embedded quotes), and the FM fill-mode prefix
    (modifies the NEXT field: drops numeric leading zeros and name
    blank-padding, per the PG doc). Everything composes into JVM-side
    date_format/calendar expressions — codegen-friendly, no UDF, no
    per-row Python.

    FX (fixed-format input mode) is consumed as a no-op the way PG's
    own output path does. Any OTHER alphanumeric template character
    raises ValueError at plan time — a silently wrong literal in
    formatted output is the failure mode this shim exists to
    prevent."""
    ts = _c(col)
    segs: list[Column] = []
    # pending fusable run: ('lit', text) and ('pat', java-fragment)
    # pieces that will render as ONE date_format call (r14 §4 fusion;
    # see _FUSE above). A lit-only run stays a plain F.lit — identical
    # to the pre-fusion renderer, including for all-literal patterns.
    pend: list[tuple[str, str]] = []
    i, n = 0, len(pattern)
    fm = False

    def flush() -> None:
        if not pend:
            return
        if all(k == "lit" for k, _ in pend):
            segs.append(F.lit("".join(t for _, t in pend)))
            pend.clear()
            return
        # coalesce ADJACENT literal pieces into one quoted run first:
        # separately-quoted neighbors would abut as '...''...' and the
        # '' between them reads as an escaped quote, not two runs
        merged: list[tuple[str, str]] = []
        for k, t in pend:
            if k == "lit" and merged and merged[-1][0] == "lit":
                merged[-1] = ("lit", merged[-1][1] + t)
            else:
                merged.append((k, t))
        # literal runs render single-quoted (embedded ' doubles, per
        # the java.time pattern grammar Spark inherits)
        segs.append(F.date_format(ts, "".join(
            t if k == "pat" else "'" + t.replace("'", "''") + "'"
            for k, t in merged)))
        pend.clear()

    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            # PG honors backslash escapes OUTSIDE quoted sections too —
            # '\"YYYY\"' renders literal quotes around the year
            # (formatting.c parse_format)
            pend.append(("lit", pattern[i + 1]))
            i += 2
            continue
        if ch == '"':
            txt, i = _scan_quoted(pattern, i, "to_char")
            if txt:  # an empty "" must not render as '' (= literal ')
                pend.append(("lit", txt))
            continue
        if pattern.startswith("FM", i):
            fm = True
            i += 2
            continue
        if pattern.startswith("FX", i):
            # FX is an input-mode flag; no output effect (PG's
            # DCH_to_char has no FX case — consumed at format parse)
            i += 2
            continue
        tok = None
        for name, build in _TOCHAR_TOKENS:
            if pattern.startswith(name, i):
                tok = (name, build)
                break
        if tok is not None:
            name, build = tok
            if build is None:
                raise ValueError(
                    f"to_char: pattern {name!r} is not supported by this "
                    f"shim (in {pattern!r}) — PG token recognized but "
                    "deliberately refused; see sqlfuncs.to_char")
            # fusion fast path: a bare-date_format token joins the
            # pending run UNLESS a TH/th suffix follows (the ordinal
            # wraps this field alone). Same-letter adjacency guard:
            # two fused fragments must never concatenate into a longer
            # pattern-letter run (MM+MM is MM MM, not MMMM) — flush
            # and start a new date_format when the letters touch.
            frag = (_FUSE_FM if fm else _FUSE).get(name)
            if (frag is not None
                    and not pattern.startswith(("TH", "th"), i + len(name))):
                if (pend and pend[-1][0] == "pat"
                        and pend[-1][1][-1] == frag[0]):
                    flush()
                pend.append(("pat", frag))
                fm = False
                i += len(name)
                continue
            flush()
            seg = build(ts, fm)
            fm = False
            i += len(name)
            # TH/th ordinal suffix modifies the PRECEDING field
            # (formatting.c DCH suffix table); digit-gated at runtime
            # like str_numth, so name tokens pass through unchanged
            if pattern.startswith("TH", i):
                seg = _ordinal(seg, True)
                i += 2
            elif pattern.startswith("th", i):
                seg = _ordinal(seg, False)
                i += 2
            segs.append(seg)
            continue
        if ch.isalnum():
            raise ValueError(
                f"to_char: unrecognized template character {ch!r} at "
                f"position {i} in {pattern!r}")
        pend.append(("lit", ch))
        i += 1
    flush()
    if not segs:
        return F.lit("")
    return segs[0] if len(segs) == 1 else F.concat(*segs)


def age_parts(ts1: "Column | str", ts2: "Column | str") -> Column:
    """PostgreSQL ``age(timestamp, timestamp)`` as a struct of
    symbolic fields (years, months, days, hours, mins, secs) — the
    field-by-field difference with borrows of
    timestamp.c:timestamp_age: seconds borrow from minutes, ... days
    borrow the length of the EARLIER timestamp's month, months borrow
    12; when ts1 < ts2 the magnitudes are computed on the swapped pair
    and every field is negated (PG's sign-recovery step). A struct
    rather than an interval so results stay comparable across engines;
    ``age`` wraps it into a Spark interval."""
    a0, b0 = _c(ts1), _c(ts2)
    # greatest/least instead of two when/otherwise swaps: PG computes
    # magnitudes on the swapped pair and negates (timestamp.c sign
    # recovery) — greatest/least is the same pair in two single nodes.
    a = F.greatest(a0, b0)
    b = F.least(a0, b0)

    # FLAT mixed-radix formulation. The reference's field-by-field
    # borrow chain (sec->min->hour->day, with the day borrowing the
    # EARLIER month's length) is a mixed-radix subtraction whose
    # sec/min/hour radices are fixed — so the whole sub-month part
    # linearizes into "microseconds since month start" computed from
    # the calendar FIELDS (session-timezone-proof, unlike subtracting
    # date_trunc epochs), with ONE borrow of the earlier month's
    # length. The naive when/otherwise cascade re-inlines each
    # adjusted field into the next borrow test — a ~29k-node tree that
    # dominated plan analysis AND codegen; this closed form is ~100
    # nodes and field-for-field identical (pinned + differential
    # tests). pmod, NOT %, for the second-of-minute: Spark's % keeps
    # the dividend's sign, which for pre-epoch timestamps would emit a
    # negative fraction and break the linearization.
    def off(t: Column) -> Column:
        # microseconds into the month, fraction included (PG's fsec
        # participates in the borrow chain, so '..01.0' - '..00.9'
        # must be 0.1s, not 1s)
        return (((F.dayofmonth(t) - 1).cast("long") * 86_400
                 + F.hour(t).cast("long") * 3_600
                 + F.minute(t).cast("long") * 60) * 1_000_000
                + F.pmod(F.unix_micros(t.cast("timestamp")),
                         F.lit(60_000_000)))

    borrow = (off(a) < off(b)).cast("int")
    # day borrow: length of the earlier timestamp's month (timestamp_age
    # uses tm2's year/month for day_tab); one borrow always suffices
    # because that month contains day(b), so its length >= day(b)
    dim_b = F.dayofmonth(F.last_day(b)).cast("long")
    us = (off(a) - off(b) + borrow.cast("long") * dim_b * 86_400_000_000)
    mt = ((F.year(a) - F.year(b)) * 12 + (F.month(a) - F.month(b))
          - borrow)  # total months, >= 0 since a >= b
    rem_d = F.pmod(us, F.lit(86_400_000_000))
    rem_h = F.pmod(rem_d, F.lit(3_600_000_000))

    # NULL propagation lives on the sign: Spark's greatest/least SKIP
    # nulls (a NULL input would otherwise read as a zero age), so a
    # NULL on either side nulls the sign and with it every field —
    # matching PG's strict age() and the old when/otherwise swap.
    sign = F.when(a0.isNull() | b0.isNull(), F.lit(None).cast("int")) \
        .when(a0 < b0, F.lit(-1)).otherwise(F.lit(1))
    return F.struct(
        (sign * F.floor(mt / 12)).cast("int").alias("years"),
        (sign * F.pmod(mt, F.lit(12))).cast("int").alias("months"),
        (sign * F.floor(us / 86_400_000_000)).cast("int").alias("days"),
        (sign * F.floor(rem_d / 3_600_000_000)).cast("int").alias("hours"),
        (sign * F.floor(rem_h / 60_000_000)).cast("int").alias("mins"),
        (sign * F.round(F.pmod(rem_h, F.lit(60_000_000)) / 1e6, 6))
        .cast("double").alias("secs"),
    )


def age(ts1: "Column | str", ts2: "Column | str") -> Column:
    """PostgreSQL ``age(a, b)`` as a Spark interval (make_interval over
    ``age_parts``) — use ``age_parts`` directly when the result feeds
    cross-engine comparison or arithmetic on individual fields."""
    p = age_parts(ts1, ts2)
    return F.make_interval(
        p.getField("years"), p.getField("months"), F.lit(0),
        p.getField("days"), p.getField("hours"), p.getField("mins"),
        p.getField("secs"))


def make_date(year: "Column | str", month: "Column | str",
              day: "Column | str") -> Column:
    """PostgreSQL ``make_date(y, m, d)`` — Spark ships the identical
    builtin (out-of-range parts error in both engines); aliased here so
    the PG formatting surface is importable from one module
    (reference: src/backend/utils/adt/date.c:make_date)."""
    return F.make_date(_c(year), _c(month), _c(day))


# ---------------------------------------------------------------------------
# PostgreSQL numeric to_char (formatting.c:NUM_processor). The digit
# picture (9/0/G/D + S/MI/PR sign modes + FM) compiles into pure column
# expressions: one decimal cast fixes the scale (PG round-half-away
# matches Java HALF_UP on the cast), then a bounded CASE over the
# integer-digit count selects among precomputed slot templates — every
# branch is a concat of literals and substrings, JVM-side, no UDF.
# Behavior is pinned against the reference's own regression outputs
# (src/test/regress/expected/numeric.out:1479-1720).

_NUM_REFUSED = ("RN", "rn", "TH", "th", "SG", "PL", "L", "V", "B")


def _parse_num_pattern(pattern: str):
    pre: list = []   # ('d', '9'|'0') | ('s', literal)
    post: list = []
    fm = False
    sign = "default"  # default | S_lead | S_trail | MI_lead | MI_trail | PR
    cur = pre
    i, n = 0, len(pattern)
    seen_digit = False
    while i < n:
        ch = pattern[i]
        for bad in _NUM_REFUSED:
            if pattern.startswith(bad, i):
                raise ValueError(
                    f"to_char_number: pattern {bad!r} not supported by this "
                    f"shim (in {pattern!r}) — refused loudly, see sqlfuncs")
        if pattern.startswith("FM", i):
            fm = True
            i += 2
            continue
        if pattern.startswith("MI", i):
            if sign != "default":
                raise ValueError(f"to_char_number: multiple sign tokens in {pattern!r}")
            sign = "MI_lead" if not seen_digit else "MI_trail"
            i += 2
            continue
        if pattern.startswith("PR", i):
            if sign != "default" or i + 2 != n:
                raise ValueError(f"to_char_number: PR must be the trailing token in {pattern!r}")
            sign = "PR"
            i += 2
            continue
        if ch == "S":
            if sign != "default":
                raise ValueError(f"to_char_number: multiple sign tokens in {pattern!r}")
            sign = "S_lead" if not seen_digit else "S_trail"
            i += 1
            continue
        if ch in "90":
            cur.append(("d", ch))
            seen_digit = True
            i += 1
            continue
        if ch in "D.":
            if cur is post:
                raise ValueError(f"to_char_number: multiple decimal points in {pattern!r}")
            cur = post
            i += 1
            continue
        if ch in "G,":
            cur.append(("g", ","))
            i += 1
            continue
        if ch == "\\" and i + 1 < n:
            # backslash escape outside quotes (formatting.c parse_format)
            cur.append(("s", pattern[i + 1]))
            i += 2
            continue
        if ch == '"':
            txt, i = _scan_quoted(pattern, i, "to_char_number")
            cur.append(("s", txt))
            continue
        if ch.isalnum():
            raise ValueError(
                f"to_char_number: unrecognized template character {ch!r} "
                f"at position {i} in {pattern!r}")
        cur.append(("s", ch))
        i += 1
    # has_d from the parse, NOT a raw count: a 'D' or '.' inside a
    # quoted literal must not fabricate a decimal point (round-11
    # review finding)
    has_d = cur is post
    return pre, post, has_d, fm, sign


def _std_picture_fast(dec: Column, pre, post, has_d: bool, fm: bool,
                      sign: str, n_pre: int, n_post: int) -> "Column | None":
    """The standard-picture fast render (see the call site in
    to_char_number for the equivalence argument), or None when the
    picture needs the general renderer. Covers the default floating
    sign, S leading/trailing, MI leading/trailing, zero-fill from the
    leftmost '0' slot, ',' groups of exactly 3, and (r14) default-sign
    group-free FM — i.e. every literal-free picture except PR and the
    exotic FM combinations."""
    import decimal as _dec

    if fm:
        # r14 FM fast path: literal-free, group-free, default-sign FM
        # pictures ('FM990D099', 'FM9999') render in ~6 string ops —
        # int/frac split, conditional zero-fill lpad, one trailing-zero
        # trim bounded below by the last '0' slot, '-' prefix — instead
        # of the general renderer's overlay machinery. Semantics match
        # the general path exactly: FM drops all padding blanks (no
        # lpad to template width, no sign slot for positives), keeps
        # the decimal point, trims trailing fraction zeros down to the
        # last 0 slot, and renders overflow as '#' slots with NO
        # leading blank.
        if sign != "default":
            return None
        if any(k != "d" for k, _ in pre) or any(k != "d" for k, _ in post):
            return None
        if n_pre == 0 or (has_d and n_post == 0):
            return None
        digit_idxs = [i for i, (k, _) in enumerate(pre) if k == "d"]
        zero_orders = [o for o, i in enumerate(digit_idxs)
                       if pre[i][1] == "0"]
        min_int = (n_pre - zero_orders[0]) if zero_orders else 0
        post_zero = [o for o, (k, v) in enumerate(post) if v == "0"]
        min_post = (post_zero[-1] + 1) if post_zero else 0

        astr = F.abs(dec).cast("string")
        if has_d:
            istr0 = F.substring_index(astr, ".", 1)
            fstr = F.substring_index(astr, ".", -1)
            trimmed = F.regexp_replace(fstr, "0+$", "")
            fkeep = F.substring(
                fstr, 1, F.greatest(F.length(trimmed), F.lit(min_post))
                .cast("int"))
            frac_nonempty = (F.length(trimmed) > 0) | F.lit(min_post > 0)
        else:
            istr0 = astr
            fkeep = None
            frac_nonempty = F.lit(False)
        istr = F.when(F.length(istr0) < min_int,
                      F.lpad(istr0, max(min_int, 1), "0")).otherwise(istr0)
        if min_int == 0:
            # blank-zero: a zero integer part renders empty when the
            # fraction carries digits
            istr = F.when((istr0 == "0") & frac_nonempty,
                          F.lit("")).otherwise(istr)
        core = F.concat(istr, F.lit("."), fkeep) if has_d else istr
        body = F.when(dec < 0, F.concat(F.lit("-"), core)).otherwise(core)
        limit = _dec.Decimal(10) ** n_pre
        over_txt = ("#" * n_pre) + ("." if has_d else "") + ("#" * n_post)
        return F.when(F.abs(dec) >= F.lit(limit), F.lit(over_txt)) \
            .otherwise(body)

    if sign == "PR":
        return None
    if has_d and n_post == 0:
        return None  # trailing-dot picture ('999D') needs the general path
    if any(k != "d" for k, _ in post):
        return None
    if any(k not in ("d", "g") or (k == "g" and v != ",")
           for k, v in pre):
        return None
    has_group = any(k == "g" for k, _ in pre)
    digit_idxs = [i for i, (k, _) in enumerate(pre) if k == "d"]
    zero_orders = [o for o, i in enumerate(digit_idxs)
                   if pre[i][1] == "0"]
    min_int = (n_pre - zero_orders[0]) if zero_orders else 0
    if has_group:
        if min_int > 0:
            return None  # zero-filling THROUGH separators: general path
        # groups must be exactly 3 digits from the right, ',' between
        rev = [k for k, _ in reversed(pre)]
        i, n = 0, len(rev)
        while i < n:
            run = 0
            while i < n and rev[i] == "d" and run < 3:
                i += 1
                run += 1
            if i < n:
                if rev[i] != "g" or run != 3 or i + 1 >= n \
                        or rev[i + 1] != "d":
                    return None
                i += 1

    # |value| rendered once: grouped via format_number (same HALF_UP
    # scale, ',' every 3, '.'), ungrouped via the bare decimal cast
    astr = F.format_number(F.abs(dec), n_post) if has_group \
        else F.abs(dec).cast("string")
    if min_int > 0:
        # zero-fill from the leftmost '0' slot: the fraction part has
        # fixed width, so one '0'-lpad of the whole string fills
        # exactly the integer digits. CONDITIONAL — Spark's lpad
        # TRUNCATES a longer string, so a value already wider than the
        # fill width must pass through untouched.
        zlen = min_int + ((1 + n_post) if has_d else 0)
        astr = F.when(F.length(astr) < zlen,
                      F.lpad(astr, zlen, "0")).otherwise(astr)
    elif n_post > 0:
        # blank-zero: a zero integer part renders empty when the
        # fraction carries digits; the strip runs only on the |x|<1
        # branch
        astr = F.when(F.abs(dec) < F.lit(_dec.Decimal(1)),
                      F.regexp_replace(astr, r"^0\.", ".")) \
            .otherwise(astr)

    neg = dec < 0
    wtempl = (n_pre + sum(1 for k, _ in pre if k == "g")
              + ((1 + n_post) if has_d else 0))
    if sign == "default":
        # '-' floats against the digits; positives take the sign slot
        # as one more pad space
        signed = F.when(neg, F.concat(F.lit("-"), astr)).otherwise(astr)
        body = F.lpad(signed, wtempl + 1, " ")
    elif sign == "S_lead":
        signed = F.concat(F.when(neg, F.lit("-")).otherwise(F.lit("+")),
                          astr)
        body = F.lpad(signed, wtempl + 1, " ")
    elif sign == "S_trail":
        body = F.concat(F.lpad(astr, wtempl, " "),
                        F.when(neg, F.lit("-")).otherwise(F.lit("+")))
    elif sign == "MI_lead":
        body = F.concat(F.when(neg, F.lit("-")).otherwise(F.lit(" ")),
                        F.lpad(astr, wtempl, " "))
    else:  # MI_trail
        body = F.concat(F.lpad(astr, wtempl, " "),
                        F.when(neg, F.lit("-")).otherwise(F.lit(" ")))

    limit = _dec.Decimal(10) ** n_pre
    sharp_pre = "".join("#" if k == "d" else v for k, v in pre)
    sharp_post = "#" * n_post
    over_txt = " " + sharp_pre + ("." if has_d else "") + sharp_post
    return F.when(F.abs(dec) >= F.lit(limit), F.lit(over_txt)) \
        .otherwise(body)


@_template_cached
def to_char_number(col: "Column | str", pattern: str) -> Column:
    """PostgreSQL ``to_char(numeric, text)`` for the digit-picture
    surface: 9/0 digit slots (0 = zero-fill from its position), D/. ,
    G/, (positional separators, blanked left of the number), quoted
    and punctuation literals, FM fill mode (drops padding blanks and
    trailing fraction zeros down to the last 0 slot, keeping the
    decimal point — reference behavior), and the sign modes: default
    (floating '-'/blank slot), S leading/trailing (+/-), MI
    leading (fixed slot) / trailing, PR (<...> for negatives).
    Scientific notation via a terminal EEEE over a plain '9.99..'
    picture (formatting.c NUM_E). Refuses RN/TH/SG/PL/L/V/B loudly,
    and EEEE combined with signs/FM/literals (as PG does). Overflow
    (more integer
    digits than slots) renders '#' in every digit slot, PG-style.
    Pinned against the reference regression outputs
    (src/test/regress/expected/numeric.out:1479-1720)."""
    c = _c(col)
    if "EEEE" in pattern:
        # scientific notation (formatting.c NUM_E): '9.999EEEE' style —
        # one integer digit, a fraction width, EEEE at the end. Java's
        # %e matches PG's mantissa rounding and e+XX exponent form
        # (reference pins numeric.out:1675-1698); exponents beyond two
        # digits cannot arise from decimal(38) input.
        core = pattern[:-4] if pattern.endswith("EEEE") else None
        if core is None:
            raise ValueError(
                f"to_char_number: EEEE must terminate the pattern ({pattern!r})")
        epre, epost, ehas_d, efm, esign = _parse_num_pattern(core)
        n = sum(1 for k, _ in epost if k == "d")
        if (sum(1 for k, _ in epre if k == "d") != 1 or not ehas_d
                or any(k != "d" for k, _ in epre)
                or any(k != "d" for k, _ in epost)
                or esign != "default" or efm):
            # PG itself rejects EEEE combined with anything but digits
            # and the decimal point (S/FM included)
            raise ValueError(
                f"to_char_number: EEEE requires a plain '9.99..' style "
                f"picture ({pattern!r})")
        if n > 15:
            # the mantissa renders through a double; beyond ~15 fraction
            # digits the low-order digits would silently diverge from
            # PG's exact-numeric rendering
            raise ValueError(
                f"to_char_number: EEEE fraction width {n} exceeds double "
                f"precision (15) in {pattern!r}")
        sci = F.format_string(f"%.{n}e", c.cast("double"))
        out = F.when(c < 0, sci).otherwise(F.concat(F.lit(" "), sci))
        return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(out)
    pre, post, has_d, fm, sign = _parse_num_pattern(pattern)
    n_pre = sum(1 for k, _ in pre if k == "d")
    n_post = sum(1 for k, _ in post if k == "d")
    if n_pre == 0 and n_post == 0:
        raise ValueError(f"to_char_number: no digit slots in {pattern!r}")
    if n_pre + n_post > 37:
        raise ValueError(f"to_char_number: more than 37 digit slots in {pattern!r}")

    # scale-fixing cast: decimal HALF_UP == PG numeric round-half-away
    dec = c.cast(f"decimal(38,{n_post})")

    # ---- fast path for STANDARD pictures (the overwhelmingly common
    # case: all-'9' slots, optional ',' groups of exactly 3, default
    # floating sign, no FM/literals/zero-fill). These render in ~3
    # string ops — format_number (or a bare decimal cast when
    # ungrouped), one blank-zero fix on the |x|<1 branch, one lpad to
    # the template width + sign slot — instead of the general
    # renderer's ~15 (substring_index/lpad/overlays/element_at per
    # row). Semantics are identical: the decimal cast above fixed the
    # scale with HALF_UP, grouping-every-3 matches format_number, PG's
    # blanked separators left of the number are exactly lpad spaces,
    # the blank-zero rule is the 0.-prefix strip, and overflow
    # compares the ROUNDED magnitude against 10^n_pre (same test as
    # integer-digit count > slots). Verified by the same numeric.out
    # pins + the 90s to_char/to_number roundtrip property battery.
    fast = _std_picture_fast(dec, pre, post, has_d, fm, sign,
                             n_pre, n_post)
    if fast is not None:
        return F.when(c.isNull(),
                      F.lit(None).cast("string")).otherwise(fast)

    neg = dec < 0
    s_all = F.abs(dec).cast("string")
    if n_post > 0:
        istr0 = F.substring_index(s_all, ".", 1)
        fstr = F.substring_index(s_all, ".", -1)
    else:
        istr0 = s_all
        fstr = F.lit("")

    # integer-digit zero-fill: digits from the leftmost '0' slot on
    digit_idxs = [i for i, (k, _) in enumerate(pre) if k == "d"]
    zero_digit_orders = [o for o, i in enumerate(digit_idxs) if pre[i][1] == "0"]
    min_int = (n_pre - zero_digit_orders[0]) if zero_digit_orders else 0
    post_digit_orders = [o for o, (k, v) in enumerate(
        [p for p in post if p[0] == "d"]) if v == "0"]
    min_post = (post_digit_orders[-1] + 1) if post_digit_orders else 0

    izero = istr0 == "0"
    istr = F.when(F.length(istr0) < min_int,
                  F.lpad(istr0, max(min_int, 1), "0")).otherwise(istr0)
    # blank-zero rule: a zero integer part renders empty when the
    # fraction will carry digits (non-FM: always at n_post>0; FM: when
    # the trimmed fraction is non-empty), else as '0'
    if n_post > 0:
        if fm:
            trimmed_len = F.length(F.regexp_replace(fstr, "0+$", ""))
            kept_n = F.greatest(trimmed_len, F.lit(min_post))
            frac_empty = kept_n == 0
        else:
            kept_n = F.lit(n_post)
            frac_empty = F.lit(False)
    else:
        kept_n = F.lit(0)
        frac_empty = F.lit(True)
    blank_int = izero & (min_int == 0) & ~frac_empty
    istr = F.when(blank_int, F.lit("")).otherwise(istr)
    ilen = F.length(istr)

    # ---- rendering. Everything below avoids per-branch expression
    # explosion (a 17-way CASE over the digit count, each branch
    # re-inlining the istr tree per slot, generated megabytes of Java
    # and failed janino's method limit): digit areas are substrings of
    # ONE padded string chunked by runs, group separators are 2-way
    # conditionals on the digit COUNT alone, literals render
    # unconditionally (PG prints quoted/punctuation literals even left
    # of the number), and the floating sign is ONE overlay whose
    # position/length come from per-digit-count literal arrays.

    # fraction: digits left-to-right from fstr; a group separator
    # renders only when another kept digit follows it; literals always
    def _frac() -> Column:
        pieces: list[Column] = []
        order = 0
        for k, v in post:
            if k == "d":
                pieces.append(F.substring(
                    fstr, order + 1,
                    F.greatest(F.least(kept_n, F.lit(order + 1)) - order,
                               F.lit(0))))
                order += 1
            elif k == "g":
                pieces.append(F.when(kept_n > order, F.lit(v))
                              .otherwise(F.lit("") if fm else F.lit(" ")))
            else:
                pieces.append(F.lit(v))
        return F.concat(*pieces) if pieces else F.lit("")

    frac = _frac() if post else F.lit("")
    dot = F.lit(".") if has_d else F.lit("")

    # pre: right-align istr into the digit slots via one lpad, chunk by
    # runs; a group separator renders only when a digit lands strictly
    # left of it; literals always. Separators are CONCATENATED
    # UNCONDITIONALLY and the region left of the number's first digit
    # is then blanked with ONE overlay whose text comes from a
    # per-digit-count literal array — a per-separator when(ilen > ...)
    # conditional re-evaluates the whole digit-string tree once per
    # separator (no common-subexpression elimination inside CaseWhen
    # branches; measured ~0.4us/row/separator on the 9G999G999D99
    # picture), while the prefix is a compile-time constant per count.
    padded = F.lpad(istr, n_pre, " ") if n_pre > 0 else F.lit("")
    has_g = any(k == "g" for k, _ in pre)
    if n_pre > 0:
        # build by INSERTING each non-digit slot's text into the padded
        # digit string with zero-length overlays at compile-time
        # positions — the padded tree (lpad over the whole blank-zero /
        # zero-fill conditional chain over the decimal-to-string cast)
        # is referenced exactly ONCE, where the old per-run
        # substring(padded, ...) chunking re-evaluated it once per
        # digit run (codegen does not common-subexpression-eliminate
        # across concat arms)
        body_i = padded
        pos = 1  # 1-based insert position in the string built so far
        for k, v in pre:
            if k == "d":
                pos += 1
            else:
                body_i = F.overlay(body_i, F.lit(v), F.lit(pos), F.lit(0))
                pos += len(v)
        pre_body = body_i
    else:
        pre_body = F.concat(*[F.lit(v) for k, v in pre]) if pre else F.lit("")
    if has_g:
        # prefix text for ilen digits: everything strictly left of the
        # first rendered digit — spaces in digit and separator slots,
        # literal text verbatim (PG prints literals even left of the
        # number; separators blank there)
        prefixes: list[str] = []
        for cnt in range(n_pre + 1):
            first_order = n_pre - cnt
            buf: list[str] = []
            o = 0
            for k, v in pre:
                if k == "d":
                    if o == first_order:
                        break
                    buf.append(" ")
                    o += 1
                elif k == "g":
                    buf.append(" " * len(v))
                else:
                    buf.append(v)
            prefixes.append("".join(buf))
        pre_body = F.overlay(
            pre_body,
            F.element_at(F.lit(prefixes), ilen.cast("int") + 1),
            F.lit(1))

    if fm and any(k == "s" and v.strip() for k, v in pre):
        # FM drops padding blanks via ltrim; a non-blank literal in the
        # integer part would be stripped past / reordered around the
        # sign — refuse loudly rather than emit wrong text
        raise ValueError(
            f"to_char_number: FM with a literal in the integer part of "
            f"{pattern!r} is not supported by this shim")

    # sign pieces per mode (leading signs FLOAT against the number in
    # default/S/PR mode; MI is positional)
    if sign == "S_lead":
        sgn = F.when(neg, F.lit("-")).otherwise(F.lit("+"))
        trail = F.lit("")
    elif sign == "S_trail":
        sgn = None
        trail = F.when(neg, F.lit("-")).otherwise(F.lit("+"))
    elif sign == "MI_lead":
        sgn = None
        trail = F.lit("")
    elif sign == "MI_trail":
        sgn = None
        trail = F.when(neg, F.lit("-")).otherwise(
            F.lit("") if fm else F.lit(" "))
    elif sign == "PR":
        sgn = F.when(neg, F.lit("<")).otherwise(
            F.lit("") if fm else F.lit(" "))
        trail = F.when(neg, F.lit(">")).otherwise(
            F.lit("") if fm else F.lit(" "))
    else:
        sgn = F.when(neg, F.lit("-")).otherwise(
            F.lit("") if fm else F.lit(" "))
        trail = F.lit("")

    if fm:
        core = F.concat(F.ltrim(pre_body), dot, frac)
        body = F.concat(sgn, core, trail) if sgn is not None \
            else F.concat(core, trail)
    elif sgn is not None:
        # float the sign against the number: PG's output is the
        # template width PLUS one sign slot that sits immediately left
        # of the number's first rendered char (first digit, or the
        # decimal point when the integer part is blank) — after any
        # leading literal, inside any blank run. For each possible
        # integer digit count that position is a compile-time constant,
        # so ONE overlay-insert (len 0) with the position looked up
        # from a literal array does it; ilen is referenced once.
        widths = [1 if k in ("d", "g") else len(v) for k, v in pre]
        digit_items = [i for i, (k, _) in enumerate(pre) if k == "d"]
        pos_list: list[int] = []
        for cnt in range(0, n_pre + 1):
            start_item = len(pre) if cnt == 0 else digit_items[n_pre - cnt]
            pos_list.append(1 + sum(widths[:start_item]))
        base = F.concat(pre_body, dot, frac, trail)
        pos = F.element_at(F.lit(pos_list), ilen.cast("int") + 1)
        body = F.overlay(base, sgn, pos, F.lit(0))
    else:
        body = F.concat(pre_body, dot, frac, trail)

    if sign == "MI_lead":
        mi = F.when(neg, F.lit("-")).otherwise(F.lit("") if fm else F.lit(" "))
        body = F.concat(mi, body)

    # overflow: more integer digits than slots -> '#' per digit slot
    sharp_pre = "".join("#" if k == "d" else v for k, v in pre)
    sharp_post = "".join("#" if k == "d" else v for k, v in post)
    over_txt = (" " if not fm else "") + sharp_pre + ("." if has_d else "") + sharp_post
    out = F.when(ilen > n_pre, F.lit(over_txt)).otherwise(body)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(out)


# ---------------------------------------------------------------------------
# PG datetime INPUT conversion — to_date/to_timestamp(text, template)
# (reference: formatting.c:do_to_timestamp). The same template tokens
# as to_char, translated to Spark's parse patterns; Spark's formatter
# parses month/day names and meridiem case-insensitively, matching PG.

# sentinel "java patterns" handled by an input PRE-PASS instead of a
# pattern letter (Spark >= 3.0 bans 'E' in parse patterns entirely, and
# java.time's 'a' wants the dot-free meridiem): the template consumes
# the token, and the input column is regexp-normalized before the parse
_PRE_DAYNAME = "!strip-dayname"    # Day/DAY/day: delete the full name
_PRE_DAYABBR = "!strip-dayabbr"    # Dy/DY/dy: delete the 3-char name
_PRE_MERIDIEM_DOTS = "!meridiem-dots"  # A.M. -> AM, then 'a'
_PRE_ROMAN_MONTH = "!roman-month"  # RM/rm: XII..I -> 12..01, then 'MM'
_PRE_Y_COMMA = "!y-comma"          # Y,YYY: 2,024 -> 2024, then 'yyyy'

_DT_PARSE_TOKENS: "list[tuple[str, str | None]]" = [
    ("Y,YYY", _PRE_Y_COMMA), ("YYYY", "yyyy"), ("YYY", None), ("YY", "yy"),
    ("Y", None),
    ("IYYY", None), ("IYY", None), ("IY", None),
    ("MONTH", "MMMM"), ("Month", "MMMM"), ("month", "MMMM"),
    ("MON", "MMM"), ("Mon", "MMM"), ("mon", "MMM"),
    ("MM", "MM"), ("MI", "mm"), ("MS", "SSS"), ("US", "SSSSSS"),
    # day-name tokens: PG parses them on input but never uses the value
    # to build a Gregorian date (formatting.c DCH_from_char sets out->d,
    # which do_to_timestamp only consults for ISO-week dates) — so the
    # shim strips a VALID English day name from the input and consumes
    # the token; an invalid name survives the strip and fails the parse
    # loudly, approximating PG's name validation
    ("DAY", _PRE_DAYNAME), ("Day", _PRE_DAYNAME), ("day", _PRE_DAYNAME),
    ("DDD", "DDD"), ("DD", "dd"),
    ("DY", _PRE_DAYABBR), ("Dy", _PRE_DAYABBR), ("dy", _PRE_DAYABBR),
    ("IDDD", None), ("ID", None), ("D", None),
    ("HH24", "HH"), ("HH12", "hh"), ("HH", "hh"),
    ("SSSS", None), ("SS", "ss"),
    ("A.M.", _PRE_MERIDIEM_DOTS), ("P.M.", _PRE_MERIDIEM_DOTS),
    ("a.m.", _PRE_MERIDIEM_DOTS), ("p.m.", _PRE_MERIDIEM_DOTS),
    ("AM", "a"), ("PM", "a"), ("am", "a"), ("pm", "a"),
    ("IW", None), ("WW", None), ("W", None), ("Q", None),
    ("CC", None), ("J", None),
    # roman-numeral month: the pre-pass maps the numeral to a
    # zero-padded month number (word-boundary anchored, longest
    # token can't shadow — \bX\b never matches inside \bXII\b), then
    # 'MM' parses it; an invalid numeral survives and fails loudly
    ("RM", _PRE_ROMAN_MONTH), ("rm", _PRE_ROMAN_MONTH),
    # numeric zone offset: PG TZH reads sign+2 digits, TZM 2 digits
    # (formatting.c:3513-3544); the common composites map to java's
    # offset letters wholesale — 'xxx' (+HH:MM), 'xx' (+HHMM), 'x'
    # (+HH) — and to_timestamp then yields the same instant PG's
    # timestamptz carries (session pinned UTC both sides). Divergence
    # (documented): PG defaults a MISSING sign to '+'; java's 'x'
    # requires the sign, so unsigned offsets fail the parse loudly.
    ("TZH:TZM", "xxx"), ("TZHTZM", "xx"), ("TZH", "x"), ("TZM", None),
    ("TZ", None), ("tz", None), ("OF", None), ("FX", None),
    ("BC", None), ("AD", None),
    # bare ISO-year tail: LAST so it can never shadow IYYY/IYY/IY/
    # IDDD/ID/IW above (the scan takes the first list hit)
    ("I", None),
]

# None-entry refusal text overrides; TZ/tz/OF carry PG's own errmsg
# (formatting.c:3505-3510 raises FEATURE_NOT_SUPPORTED for these on
# input — the refusal IS reference behavior, not a shim gap)
_DT_REFUSE_MSG = {
    "TZ": 'formatting field "TZ" is only supported in to_char',
    "tz": 'formatting field "tz" is only supported in to_char',
    "OF": 'formatting field "OF" is only supported in to_char',
    "TZM": "TZM without a leading TZH is not supported (PG would "
           "default the sign positive; write TZH:TZM)",
    "FX": "FX is honored only as the template's FIRST item "
          "(PG parses it as a global flag there)",
    "BC": "era input is not supported (Spark dates cannot represent "
          "BC years; AD-era inputs need no era token)",
    "AD": "era input is not supported (Spark dates cannot represent "
          "BC years; AD-era inputs need no era token)",
}

# the pre-pass regexes are anchored on word boundaries so a typo'd name
# ("Thursdayy") survives the strip and fails the strict parse loudly;
# locale-fixed English, like PG's default C-locale name tables. Each
# key maps to an ordered chain of (regex, replacement) rewrites.
_PRE_REGEX: "dict[str, list[tuple[str, str]]]" = {
    _PRE_DAYNAME: [(r"(?i)\b(sunday|monday|tuesday|wednesday|thursday"
                    r"|friday|saturday)\b", "")],
    _PRE_DAYABBR: [(r"(?i)\b(sun|mon|tue|wed|thu|fri|sat)\b", "")],
    _PRE_MERIDIEM_DOTS: [(r"(?i)([ap])\.m\.", "$1M")],
    # \b anchors make the chain order-independent (\bX\b cannot match
    # inside XII); zero-padded so the strict 'MM' field stays 2-wide
    _PRE_ROMAN_MONTH: [
        (rf"(?i)\b{rn}\b", f"{m:02d}") for m, rn in enumerate(
            ["i", "ii", "iii", "iv", "v", "vi", "vii", "viii",
             "ix", "x", "xi", "xii"], start=1)],
    # Y,YYY input (formatting.c DCH_Y_YYY from-case: sscanf %d,%03d):
    # drop the grouping comma, then the strict 'yyyy' field parses the
    # 4-digit year; anchored so a comma elsewhere in the input is
    # untouched (and a malformed group survives to fail the parse)
    _PRE_Y_COMMA: [(r"\b(\d),(\d{3})\b", "$1$2")],
}


# lax single-letter forms: java.time parses a single numeric pattern
# letter as 1..max digits (appendValue(field)), which is exactly PG's
# do_to_timestamp tolerance for non-padded digit fields ('5 Dec 2000'
# under 'DD Mon YYYY'). Only safe when field tokens are separated by
# literals — two adjacent variable-width fields are ambiguous.
_DT_LAX_FORMS = {"yyyy": "y", "MM": "M", "dd": "d", "DDD": "D",
                 "HH": "H", "hh": "h", "mm": "m", "ss": "s"}


def _dt_parse_pattern(pattern: str, lax: bool = False) -> "tuple[str, list[str]]":
    """PG input template -> (Spark datetime parse pattern, pre-pass
    keys). FM is a no-op for parsing (Spark's parser already accepts
    the values PG's fill mode relaxes names for); field tokens PG
    cannot set from input (Q, WW, D, ...) refuse loudly rather than
    mis-parse. The second element lists ``_PRE_REGEX`` keys the caller
    must apply to the INPUT column before the parse (day-name strip,
    dotted-meridiem normalization) — name tokens Spark's parser cannot
    express (banned 'E' family) are closed by rewriting the input,
    never by touching the banned pattern letters.

    ``lax=True`` (the try_* variants) additionally accepts non-padded
    digit fields the way PG's do_to_timestamp does
    (formatting.c:from_char_parse_int reads up to the field's max
    width, stopping at a separator) — but only when every pair of
    field tokens in the template is separated by at least one literal
    character; adjacent variable-width fields would be ambiguous, so
    such templates keep the strict fixed-width forms."""
    out: list[str] = []
    kinds: list[str] = []  # parallel: "field" | "lit" per out element
    pres: list[str] = []   # _PRE_REGEX keys, dedup'd in order
    if pattern.startswith("FX"):
        # PG FX: fixed-format input — exact separators, padded digit
        # fields (formatting.c DCH_FX sets FXmode). The strict java
        # parse IS fixed-format, so FX just disables the try_ variants'
        # lax rewrite. PG honors it only as the template's FIRST item;
        # a mid-template FX still refuses via the token table.
        pattern = pattern[2:]
        lax = False
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            # backslash escape outside quotes (formatting.c parse_format)
            esc = pattern[i + 1].replace("'", "''")
            out.append(f"'{esc}'" if pattern[i + 1].isalnum()
                       else ("''" if pattern[i + 1] == "'"
                             else pattern[i + 1]))
            kinds.append("lit")
            i += 2
            continue
        if ch == '"':
            txt, i = _scan_quoted(pattern, i, "to_date/to_timestamp")
            lit = txt.replace("'", "''")
            if lit:
                out.append(f"'{lit}'")
                kinds.append("lit")
            continue
        if pattern.startswith("FM", i):
            i += 2
            continue
        hit = None
        for name, java in _DT_PARSE_TOKENS:
            if pattern.startswith(name, i):
                hit = (name, java)
                break
        if hit is not None:
            name, java = hit
            if java is None:
                raise ValueError(
                    "to_date/to_timestamp: "
                    + _DT_REFUSE_MSG.get(
                        name, f"input pattern {name!r} is not "
                        "supported by this shim")
                    + f" (in {pattern!r})")
            if java.startswith("!"):
                if java not in pres:
                    pres.append(java)
                if java == _PRE_MERIDIEM_DOTS:
                    # the normalized input carries a dot-free AM/PM
                    out.append("a")
                    kinds.append("field")
                elif java == _PRE_ROMAN_MONTH:
                    # the numeral is rewritten to a 2-digit month
                    out.append("MM")
                    kinds.append("field")
                elif java == _PRE_Y_COMMA:
                    # the comma-grouped year is rewritten to 4 digits
                    out.append("yyyy")
                    kinds.append("field")
                # day-name tokens consume the template token only: the
                # stripped input has nothing left to parse there
                i += len(name)
                continue
            out.append(java)
            kinds.append("field")
            i += len(name)
            continue
        if ch.isalnum():
            raise ValueError(
                f"to_date/to_timestamp: unrecognized template character "
                f"{ch!r} at position {i} in {pattern!r}")
        out.append("''" if ch == "'" else ch)
        kinds.append("lit")
        i += 1
    if lax and not any(a == b == "field"
                       for a, b in zip(kinds, kinds[1:])):
        out = [_DT_LAX_FORMS.get(s, s) if k == "field" else s
               for s, k in zip(out, kinds)]
    return "".join(out), pres


def _dt_prepass(c: Column, pres: "list[str]") -> Column:
    for key in pres:
        for rx, repl in _PRE_REGEX[key]:
            c = F.regexp_replace(c, rx, repl)
    return c


# --- arithmetic input tokens (J/SSSS/CC/IYYY/IW/ID/WW/W/D/Q) ---------------
# These numeric calendar tokens have no Spark parse letter but need no
# parser at all — they are integer math to (date, time), applied the
# way do_to_timestamp does (formatting.c:4550-4740): SSSS decomposes
# into h/m/s FIRST and explicit HH24/MI/SS override fields; CC+YY
# combines by the century rule ((cc-1)*100 + yy, and yy==0 means the
# century's LAST year, cc*100); CC with a 4-digit year is silently
# ignored (yysz > 2 branch); J overrides year/month/day via j2date;
# IYYY+IW[+ID] is the ISO week date via isoweek2j Monday arithmetic
# (PG refuses mixing ISO with Gregorian tokens, and so does this);
# WW sets day-of-year (ww-1)*7+1 and W day-of-month (w-1)*7+1; Q and
# Gregorian-mode D are parsed for digits but IGNORED, exactly like PG.
# A template containing one of them takes this path: the whole input
# is matched by ONE anchored regex built from the template (each
# numeric field a capture group; adjacent fields fixed-width like
# from_char_parse_int_len, separator-bounded ones 1..max digits),
# fields extract JVM-side, and make_timestamp composes the result —
# no Python, no UDF.

_DT_ARITH = ("J", "SSSS", "CC", "IYYY", "IYY", "IY", "I",
             "IW", "ID", "IDDD", "WW", "W", "D", "Q",
             # the year TAILS need the matched text's LENGTH (PG skips
             # the toward-2020 adjustment when >=4 digits were read,
             # formatting.c:3702-3726) — only the arithmetic path's
             # positional regex retains it
             "YYY", "Y")
# max input digits per field (formatting.c DCH_keywords len column)
_ARITH_NUMW = {"YYYY": 4, "YY": 2, "MM": 2, "DD": 2, "DDD": 3, "HH24": 2,
               "MI": 2, "SS": 2, "MS": 3, "US": 6,
               "J": 7, "SSSS": 5, "CC": 2,
               "IYYY": 4, "IW": 2, "ID": 1, "IDDD": 3, "WW": 2,
               "W": 1, "D": 1, "Q": 1,
               # year tails slurp up to 4 digits when separator-bounded
               # (from_char_parse_int_len strtol branch); adjacent runs
               # read the keyword length (3 / 1) like every other field
               "YYY": 4, "Y": 4, "IYY": 4, "IY": 4, "I": 4}
# PG refuses mixing ISO-week and Gregorian date conventions on input
# (from_char_set_mode: "invalid combination of date conventions")
_ARITH_ISO = ("IYYY", "IYY", "IY", "I", "IW", "ID", "IDDD")
_ARITH_GREG = ("YYYY", "YYY", "YY", "Y", "MM", "DD", "DDD", "WW", "W",
               "D", "CC", "J")
# Julian day number of 2000-01-01 (PG date2j(2000,1,1); both engines
# are proleptic Gregorian, so one date_add closes the whole token).
# Spark dates span 0001-01-01..9999-12-31 -> J in [_J_MIN, _J_MAX];
# outside that, date_add itself overflows with an opaque java.time
# error even under try_ semantics, so the range is guarded explicitly.
_J2000 = 2451545
_J_MIN = 1721426   # 0001-01-01
_J_MAX = 5373484   # 9999-12-31


def _dt_field_tokens(pattern: str) -> "set[str]":
    """Quote/escape-aware scan: the set of PG field tokens the template
    contains. (Longest-first via _DT_PARSE_TOKENS order, so SS inside
    SSSS or C inside CC cannot mis-trigger.)"""
    toks: "set[str]" = set()
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            i += 2
            continue
        if ch == '"':
            _, i = _scan_quoted(pattern, i, "to_date/to_timestamp")
            continue
        if pattern.startswith("FM", i):
            i += 2
            continue
        hit = None
        for name, _java in _DT_PARSE_TOKENS:
            if pattern.startswith(name, i):
                hit = name
                break
        if hit is not None:
            toks.add(hit)
            i += len(hit)
            continue
        i += 1
    return toks


def _dt_has_arith(pattern: str) -> bool:
    """Does the template contain a token of the arithmetic input path
    (J, SSSS, CC, ISO-week fields, ...)?"""
    return not _dt_field_tokens(pattern).isdisjoint(_DT_ARITH)


def _adjust_partial_year(y: Column) -> Column:
    """formatting.c:2231 adjust_partial_year_to_2020 as a column
    expression, for year values parsed from fewer than 4 digits:
    0-69 -> 2000s, 70-99 -> 1900s, 100-519 -> 2000s, 520-999 ->
    1000s, >=1000 literal."""
    return (F.when(y < 70, y + 2000)
            .when(y < 100, y + 1900)
            .when(y < 520, y + 2000)
            .when(y < 1000, y + 1000)
            .otherwise(y))


def _dt_partial_year_fix(ts: Column, pattern: str) -> Column:
    """PG's YY input rule applied AFTER a java 'yy' parse: PG adjusts a
    2-digit year toward 2020 (adjust_partial_year_to_2020 — 70-99 land
    in the 1900s) while java's 'yy' bases every value at 2000, so the
    two agree on 00-69 and differ by exactly +100 years on 70-99.
    Shift those back. Applies only when the template's year source is
    the YY token (java then always parsed exactly 2 digits, the case
    PG always adjusts; PG's free-width 4-digit tolerance under YY is
    part of the documented strict-parse divergence and fails loudly)."""
    toks = _dt_field_tokens(pattern)
    if "YY" not in toks or not toks.isdisjoint(("YYYY", "Y,YYY")):
        return ts
    return F.when(F.year(ts) >= 2070,
                  F.timestamp_add("YEAR", F.lit(-100), ts)).otherwise(ts)


def _dt_partial_year_fix_date(d: Column, pattern: str) -> Column:
    """Date-typed twin of _dt_partial_year_fix (add_months keeps the
    value in date space; -1200 months is exactly -100 years, and every
    leap day java 'yy' can produce — 2072..2096 — maps to a leap year
    1972..1996)."""
    toks = _dt_field_tokens(pattern)
    if "YY" not in toks or not toks.isdisjoint(("YYYY", "Y,YYY")):
        return d
    return F.when(F.year(d) >= 2070, F.add_months(d, -1200)).otherwise(d)


def _dt_arith_elements(pattern: str) -> "list[tuple[str, str]]":
    """Template -> [('num', token) | ('lit', text)] for the arithmetic
    path. Only numeric fields compose here (adjacent fields parse
    fixed-width like PG's from_char_parse_int_len; separator-bounded
    ones parse 1..max digits), so name tokens, digits inside literals,
    and duplicate fields refuse loudly."""
    if pattern.startswith("FX"):
        pattern = pattern[2:]   # fixed-format: the arith path is
        # already exact-width/exact-separator; FX is a no-op here
    elems: "list[tuple[str, str]]" = []
    lit: list[str] = []
    seen: set = set()

    def flush() -> None:
        if lit:
            elems.append(("lit", "".join(lit)))
            lit.clear()

    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            lit.append(pattern[i + 1])
            i += 2
            continue
        if ch == '"':
            txt, i = _scan_quoted(pattern, i, "to_date/to_timestamp")
            lit.append(txt)
            continue
        if pattern.startswith("FM", i):
            i += 2
            continue
        hit = None
        for name, _java in _DT_PARSE_TOKENS:
            if pattern.startswith(name, i):
                hit = name
                break
        if hit is not None:
            if hit not in _ARITH_NUMW:
                raise ValueError(
                    f"to_date/to_timestamp: token {hit!r} cannot combine "
                    f"with the arithmetic-path tokens (J/SSSS/CC/ISO-week/"
                    f"year-tails/...) in {pattern!r} — that path composes "
                    "separator-bounded NUMERIC fields only")
            if hit in seen:
                raise ValueError(
                    f"to_date/to_timestamp: duplicate field {hit!r} "
                    f"in {pattern!r}")
            seen.add(hit)
            flush()
            elems.append(("num", hit))
            i += len(hit)
            continue
        if ch.isalnum():
            raise ValueError(
                f"to_date/to_timestamp: unrecognized template character "
                f"{ch!r} at position {i} in {pattern!r}")
        lit.append(ch)
        i += 1
    flush()
    for kind, text in elems:
        if kind == "lit" and any(c.isdigit() for c in text):
            raise ValueError(
                f"to_date/to_timestamp: literal {text!r} contains digits — "
                f"ambiguous next to numeric fields in {pattern!r}")
    return elems


def _dt_arith_expr(c: Column, pattern: str, safe: bool) -> Column:
    """Compose a timestamp from a J/SSSS/CC template (see module
    comment above for the reference-faithful combination rules).
    ``safe=True`` (the try_ variants) yields NULL on malformed input;
    strict mode raises like PG. Both are pure column expressions."""
    import re as _re

    elems = _dt_arith_elements(pattern)
    rx_parts: list[str] = ["^"]
    vals: "dict[str, Column]" = {}
    for i, (kind, text) in enumerate(elems):
        if kind == "lit":
            rx_parts.append(_re.escape(text))
        else:
            # PG's from_char_parse_int_len reads EXACTLY the template
            # KEYWORD's length when the next node is another field
            # (fixed-width run, e.g. 'YYYYWWD' / 'IYYYIWID' —
            # horology.sql:405,409; the width is key->len, so 'SSSS'
            # adjacent reads 4 digits) and up to the field's max value
            # width when a separator or the end follows
            adjacent = i + 1 < len(elems) and elems[i + 1][0] == "num"
            rx_parts.append((r"(\d{%d})" % len(text)) if adjacent
                            else (r"(\d{1,%d})" % _ARITH_NUMW[text]))
            vals[text] = None  # ordered placeholder
    rx_parts.append("$")
    rx = "".join(rx_parts)
    raws: "dict[str, Column]" = {}
    for idx, tok in enumerate(vals, start=1):
        raws[tok] = F.regexp_extract(c, rx, idx)
        vals[tok] = raws[tok].cast("int")
    year_toks = [t for t in ("YYYY", "YYY", "YY", "Y") if t in vals]
    if len(year_toks) > 1:
        raise ValueError(
            f"to_date/to_timestamp: conflicting year tokens {year_toks} "
            f"in {pattern!r} — PG silently lets the later overwrite the "
            "earlier; this shim refuses the ambiguity")

    valid = c.rlike(rx)
    # Q is parsed for an integer but never stored — PG's own doc'd
    # behavior ("it is unclear which date in the quarter to use",
    # formatting.c DCH_Q input case); D likewise is only consulted in
    # ISO mode (as ID's alias via wday shift) — in Gregorian mode PG
    # parses and ignores it.
    iso = [t for t in _ARITH_ISO if t in vals]
    greg = [t for t in _ARITH_GREG if t in vals]
    if iso and greg:
        # PG: from_char_set_mode errmsg parity
        raise ValueError(
            f"to_date/to_timestamp: invalid combination of date "
            f"conventions — ISO week tokens {iso} cannot mix with "
            f"Gregorian tokens {greg} ({pattern!r})")
    if iso:
        iso_years = [t for t in ("IYYY", "IYY", "IY", "I") if t in vals]
        if len(iso_years) > 1:
            raise ValueError(
                f"to_date/to_timestamp: conflicting ISO year tokens "
                f"{iso_years} in {pattern!r} — PG silently lets the "
                "later overwrite the earlier; this shim refuses the "
                "ambiguity")
        if not iso_years or ("IW" not in vals and "IDDD" not in vals):
            raise ValueError(
                f"to_date/to_timestamp: ISO week-date input needs an "
                f"ISO year (IYYY/IYY/IY/I) plus IW or IDDD (got {iso}) "
                f"in {pattern!r}")
        if "IDDD" in vals and ("IW" in vals or "ID" in vals):
            raise ValueError(
                f"to_date/to_timestamp: IDDD sets the whole ISO "
                f"day-of-year — combining with IW/ID is not supported "
                f"({pattern!r})")
        ytok = iso_years[0]
        if ytok == "IYYY":
            iso_y = vals["IYYY"]
        else:
            # ISO year TAILS share the Gregorian tails' toward-2020
            # rule, applied only when <4 digits were read
            # (formatting.c:3702-3726, DCH_YYY|DCH_IYY shared cases)
            iso_y = F.when(F.length(raws[ytok]) < 4,
                           _adjust_partial_year(vals[ytok])) \
                .otherwise(vals[ytok])
        # isoweek2j (timestamp.c:4381): Monday of ISO week 1 is the
        # Monday on-or-before Jan 4; weekday() is Monday=0. ID is the
        # ISO day (Monday=1) -> offset ID-1; absent ID leaves the date
        # at the week's Monday (formatting.c:4648); IDDD is the ISO
        # day-of-year from that same Monday (formatting.c:4692-4696).
        jan4 = F.make_date(iso_y, F.lit(1), F.lit(4))
        mon1 = F.date_sub(jan4, F.weekday(jan4))
        if "IDDD" in vals:
            off = vals["IDDD"] - 1
        else:
            off = (vals["IW"] - 1) * 7 \
                + ((vals["ID"] - 1) if "ID" in vals else F.lit(0))
        d = F.date_add(mon1, off)
        y, mo, dd = F.year(d), F.month(d), F.dayofmonth(d)
    elif "J" in vals:
        bad = [t for t in _ARITH_GREG if t != "J" and t in vals
               and t not in ("D", "Q")]
        if bad:
            raise ValueError(
                f"to_date/to_timestamp: J overrides the whole date — "
                f"combining it with {bad} is not supported ({pattern!r})")
        jn = vals["J"]
        jok = (jn >= _J_MIN) & (jn <= _J_MAX)
        valid = valid & jok
        # clamped so the date_add can never overflow on the invalid
        # branch (CaseWhen is lazy but date_add sits INSIDE the taken
        # branch's subtree when valid is NULL-ish)
        d = F.date_add(F.lit(datetime.date(2000, 1, 1)),
                       F.when(jok, jn).otherwise(F.lit(_J2000)) - _J2000)
        y, mo, dd = F.year(d), F.month(d), F.dayofmonth(d)
    else:
        if "YYYY" in vals:
            y = vals["YYYY"]  # CC ignored when a 4-digit year is given
        elif "CC" in vals and "YY" in vals:
            yy = vals["YY"]
            y = F.when(yy == 0, vals["CC"] * 100) \
                .otherwise((vals["CC"] - 1) * 100 + yy)
        elif "CC" in vals:
            y = (vals["CC"] - 1) * 100 + 1
        elif "YY" in vals:
            # bare 2-digit year: PG adjusts toward 2020
            # (adjust_partial_year_to_2020 — len is always < 4 here,
            # the arith regex reads at most 2 digits for YY)
            y = _adjust_partial_year(vals["YY"])
        elif "YYY" in vals or "Y" in vals:
            # year TAILS slurp up to 4 digits when separator-bounded
            # (from_char_parse_int_len's strtol branch); PG skips the
            # toward-2020 adjustment when 4 characters were consumed
            # ('1995' under YYY is literal 1995, '0995' is literal 995,
            # '995' adjusts to 1995) — the matched text's length
            # carries that distinction (formatting.c:3702-3726)
            tok = "YYY" if "YYY" in vals else "Y"
            y = F.when(F.length(raws[tok]) < 4,
                       _adjust_partial_year(vals[tok])) \
                .otherwise(vals[tok])
        else:
            raise ValueError(
                f"to_date/to_timestamp: no year source in {pattern!r} — "
                "the arithmetic input path needs IYYY+IW, J, YYYY, YY, "
                "or CC[+YY] (PG's zeroed-tm default is not reproduced)")
        if "WW" in vals or "DDD" in vals:
            # WW sets day-of-year (ww-1)*7+1 (formatting.c:4658); both
            # fill month+day, so an explicit MM/DD/W alongside would
            # hit PG's conditional-fill corner — refused loudly
            bad = [t for t in ("MM", "DD", "W") if t in vals] \
                + (["DDD"] if "WW" in vals and "DDD" in vals else [])
            if bad:
                raise ValueError(
                    f"to_date/to_timestamp: WW/DDD set the whole "
                    f"month+day — combining with {bad} is not supported "
                    f"({pattern!r})")
            ddd = ((vals["WW"] - 1) * 7 + 1 if "WW" in vals
                   else vals["DDD"])
            d = F.date_add(F.make_date(y, F.lit(1), F.lit(1)), ddd - 1)
            mo, dd = F.month(d), F.dayofmonth(d)
        elif "W" in vals:
            # W: day-of-month (w-1)*7+1 (formatting.c:4661-4662)
            if "MM" not in vals or "DD" in vals:
                raise ValueError(
                    f"to_date/to_timestamp: W (week of month) needs MM "
                    f"and excludes DD in {pattern!r}")
            mo = vals["MM"]
            dd = (vals["W"] - 1) * 7 + 1
        else:
            mo = vals.get("MM", F.lit(1))
            dd = vals.get("DD", F.lit(1))

    if "SSSS" in vals:
        x = vals["SSSS"]
        hh = vals.get("HH24", F.floor(x / 3600).cast("int"))
        mi = vals.get("MI", F.floor(F.pmod(x, 3600) / 60).cast("int"))
        ss = vals.get("SS", F.pmod(x, 60).cast("int"))
    else:
        hh = vals.get("HH24", F.lit(0))
        mi = vals.get("MI", F.lit(0))
        ss = vals.get("SS", F.lit(0))
    if "MS" in vals and "US" in vals:
        raise ValueError(
            f"to_date/to_timestamp: MS and US together are not supported "
            f"in the J/SSSS/CC path ({pattern!r})")
    frac_us = (vals["MS"] * 1000 if "MS" in vals
               else vals["US"] if "US" in vals else None)
    secs = (ss.cast("decimal(16,6)") if frac_us is None
            else ss.cast("decimal(16,6)")
            + (frac_us.cast("decimal(16,6)") / 1_000_000))

    if safe:
        ts = F.when(valid,
                    F.try_make_timestamp(y, mo, dd, hh, mi, secs))
        return ts  # otherwise-NULL implicit
    err = F.raise_error(F.concat(
        F.lit("to_date/to_timestamp: input "),
        F.coalesce(c, F.lit("NULL")),
        F.lit(f" does not match template {pattern!r} "
              "(or is out of the supported date range)")))
    return F.when(c.isNull(), F.lit(None).cast("timestamp")) \
        .when(valid, F.make_timestamp(y, mo, dd, hh, mi, secs)) \
        .otherwise(err.cast("timestamp"))


@_template_cached
def to_timestamp(col: "Column | str", pattern: str) -> Column:
    """PostgreSQL ``to_timestamp(text, template)`` — the PG template is
    translated to a Spark parse pattern, so ``'DD Mon YYYY HH12:MI am'``
    parses the way a PG user expects (month/day names and meridiem are
    case-insensitive in both engines). Day-name tokens (``Day``/``Dy``,
    any case) and dotted meridiem (``A.M.``/``P.M.``) are closed by an
    input pre-pass — Spark bans the 'E' pattern family on parse, so a
    valid English day name is stripped from the input (PG likewise
    never uses it to build a Gregorian date, formatting.c
    DCH_from_char) and dotted meridiem is normalized to AM/PM; an
    INVALID day name survives the strip and fails the parse loudly,
    approximating PG's name validation. Divergence (documented):
    without FM, PG tolerates some non-padded digit fields that Spark's
    strict parser rejects; malformed input raises under ANSI rather
    than returning NULL (use try_to_timestamp semantics upstream if
    NULLs are wanted). Templates carrying the numeric calendar tokens
    J / SSSS / CC / IYYY / IW / ID / WW / W / D / Q take the
    arithmetic input path (see _dt_arith_expr): they are integer math
    to (date, time), no parser letter needed; Y,YYY parses via a
    comma-stripping pre-pass."""
    if _dt_has_arith(pattern):
        return _dt_arith_expr(_c(col), pattern, safe=False)
    pat, pres = _dt_parse_pattern(pattern)
    return _dt_partial_year_fix(
        F.to_timestamp(_dt_prepass(_c(col), pres), pat), pattern)


@_template_cached
def to_date(col: "Column | str", pattern: str) -> Column:
    """PostgreSQL ``to_date(text, template)`` — see ``to_timestamp``."""
    if _dt_has_arith(pattern):
        return _dt_arith_expr(_c(col), pattern, safe=False).cast("date")
    pat, pres = _dt_parse_pattern(pattern)
    return _dt_partial_year_fix_date(
        F.to_date(_dt_prepass(_c(col), pres), pat), pattern)


@_template_cached
def try_to_timestamp(col: "Column | str", pattern: str) -> Column:
    """Lax PG-style parse: NULL on malformed input instead of an ANSI
    error, and — when the template's fields are separator-bounded —
    non-padded digit fields parse the way PG's do_to_timestamp
    tolerates ('2000-1-5 3:7:9' under 'YYYY-MM-DD HH24:MI:SS').
    Closes the strict-parse divergence documented on ``to_timestamp``
    for the common porting shapes; still a pure JVM expression
    (Spark's try_to_timestamp). Name tokens get the same input
    pre-pass as the strict forms — here an invalid day name yields
    NULL instead of an error. J/SSSS/CC templates take the arithmetic
    input path with NULL-on-malformed semantics."""
    if _dt_has_arith(pattern):
        return _dt_arith_expr(_c(col), pattern, safe=True)
    pat, pres = _dt_parse_pattern(pattern, lax=True)
    return _dt_partial_year_fix(
        F.try_to_timestamp(_dt_prepass(_c(col), pres), F.lit(pat)),
        pattern)


@_template_cached
def try_to_date(col: "Column | str", pattern: str) -> Column:
    """``try_to_timestamp`` truncated to a date (Spark has no
    try_to_date; the timestamp->date cast preserves the NULL)."""
    return try_to_timestamp(col, pattern).cast("date")


@_template_cached
def to_number(col: "Column | str", pattern: str) -> Column:
    """PostgreSQL ``to_number(text, template)`` (formatting.c:
    numeric_to_number). PG's parser is deliberately lax — it scans the
    input for digits, one decimal point, and a sign indicator anywhere
    ('-' in any position, a trailing '<...>' PR pair), skipping group
    separators and literal noise; every reference regression pin
    (numeric.out:1993-2072, incl. '.-01' -> -0.01 and the
    space-separated picture) reproduces under exactly that rule. The
    result is a decimal whose scale is the picture's fraction width.

    Fraction digits beyond the picture's slots are truncated before
    the cast, like PG's field-wise read ('1.999' under '9.9' is 1.9,
    not the 2.0 a rounding cast would give).

    Stricter-than-PG divergence (loud, documented): input carrying
    MORE integer digits than the picture has slots raises at runtime —
    PG silently truncates to the picture width, which is the kind of
    silent data mangling this shim refuses to reproduce."""
    c = _c(col)
    pre, post, has_d, fm, sign = _parse_num_pattern(pattern)
    n_pre = sum(1 for k, _ in pre if k == "d")
    n_post = sum(1 for k, _ in post if k == "d")
    if n_pre == 0 and n_post == 0:
        raise ValueError(f"to_number: no digit slots in {pattern!r}")
    neg = c.contains("-") | (c.contains("<") & c.contains(">"))
    cleaned = F.regexp_replace(c, "[^0-9.]", "")
    ipart = F.substring_index(cleaned, ".", 1)
    # PG reads only as many fraction digits as the picture has slots
    # (field-wise NUM_processor) — truncate BEFORE the decimal cast,
    # which would otherwise round half-up ('1.999' with '9.9' is 1.9
    # in PG, not 2.0)
    # fraction = the segment after the FIRST dot (PG stops reading at
    # a second '.'; substring_index(.., -1) would silently take the
    # LAST segment on noisy multi-dot input)
    first_frac = F.substring_index(F.substring_index(cleaned, ".", 2), ".", -1)
    fpart = F.when(cleaned.contains("."),
                   F.concat(F.lit("."),
                            F.substring(first_frac, 1, n_post))).otherwise(F.lit(""))
    cleaned = F.concat(ipart, fpart)
    int_digits = F.length(F.regexp_replace(ipart, "^0+", ""))
    guarded = F.when(
        int_digits > n_pre,
        F.raise_error(F.concat(
            F.lit(f"to_number: input has more integer digits than the "
                  f"picture {pattern!r} ({n_pre} slots): "), c))
    ).when(
        # digit-free input (e.g. to_char's '###' overflow fill) errors
        # in PG too — raise with the offending text instead of letting
        # the decimal cast fail on ''
        F.length(F.regexp_replace(cleaned, r"[^0-9]", "")) == 0,
        F.raise_error(F.concat(
            F.lit(f"to_number: no digits in input for {pattern!r}: "), c))
    ).otherwise(cleaned)
    signed = F.concat(F.when(neg, F.lit("-")).otherwise(F.lit("")), guarded)
    return signed.cast(f"decimal(38,{n_post})")
