"""Map-expectation condition compiler.

Each map expectation compiles to a boolean *expected* ``pyspark.sql.Column``
(JVM-side, whole-stage-codegen friendly — never per-row Python). Its ``unexpected``
property is the one rule for violating rows, and every consumer (planner,
violation rows, streaming metrics) ANDs it with ``row_domain``:

    unexpected = row_domain AND considered AND NOT expected

where ``considered`` encodes the null policy (column map: ``col IS NOT NULL``
unless the expectation is about null-ness; pair/multicolumn: the
``ignore_row_if`` policy).

Semantics mirror the reference's Spark metric providers
(great_expectations/expectations/metrics/column_map_metrics/*,
column_pair_map_metrics/*, multicolumn_map_metrics/* — see SURVEY.md §2.B.3-5)
but are all expressed as native Catalyst expressions (the reference's per-row
``F.udf`` strftime compiles to CPython's own TimeRE regexes for rlike — exact
strptime semantics, JVM-side; its per-row json.loads cases run as Arrow
pandas_udf batches — exact stdlib semantics, never per-row Python).
"""

from __future__ import annotations

import datetime as _dt
import json
import re

from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_value(v: Any) -> Column:
    """Literal that compares correctly against Spark columns.

    datetime/date pass through; everything else via F.lit.
    """
    return F.lit(v)


# --- strftime: exact CPython strptime semantics, pure Catalyst -------------
#
# CPython parses strftime formats by compiling them to regexes
# (_strptime.TimeRE) and post-validating the calendar date. Java's regex
# engine shares the leftmost-match / greedy-ordered-alternation /
# backtracking semantics those patterns rely on, so compiling the SAME
# patterns for rlike + regexp_extract + try_to_date reproduces the
# reference's per-row ``F.udf(datetime.strptime)``
# (column_values_match_strftime_format.py:33-60) exactly: digit-shape rules
# (%m takes '3' and '03' but rejects '003' and '13'), backtracking through
# adjacent runs ('1776107' for %Y%m%d), the %j=366 silent year rollover,
# case-insensitive literals and month/day names, format-whitespace runs
# matching any value whitespace run, and calendar validation (Feb 30 fails,
# Feb 29 needs a leap year — against strptime's default year 1900 when the
# format carries no year). All verdict differences surface only as
# EXCEPTIONS, same as strptime: invalid ISO-directive combinations (%G
# without %V+weekday, %V without %G/%U/%W, %G with %j — strptime's own
# messages), stray trailing '%', and repeated directives raise ValueError,
# mirroring strptime's ValueError / re.error on the same formats. datetime.strptime
# additionally rejects some regex-reachable matches at construction time
# (TimeRE is more permissive than datetime): %S=60/61 (leap seconds),
# %z offsets outside (-24h, 24h) or with inconsistent ':' use, and
# %Y=9999 %j=366 (fromordinal rollover past year 9999) — reproduced here
# as post-match checks on the EXTRACTED groups, because strptime parses
# the regex's first-found division and never retries another (e.g.
# '601' under '%S%f' fails with S=60 even though S=6,f='01' would parse).
# %U/%W-with-weekday formats reproduce the julian-from-week computation
# (date derived from year+week+weekday, found month/day overwritten, week-0
# rollback, year-boundary failures); %G+%V+weekday formats reproduce
# _calc_julian_from_V the same way. Two known residual divergences:
# (1) Python's \d matches Unicode decimal digits (strptime parses '٢٠٢١'
# as a year), Java's is ASCII-only — non-ASCII digit strings are rejected
# here; (2) the reference's SPARK metric additionally pre-validates every
# format by round-tripping a NAIVE datetime.now()
# (column_values_match_strftime_format.py:35-42), whose strftime renders
# %z/%Z as empty — so reference-on-Spark raises "Unable to use provided
# strftime_format" for ANY format containing %z or %Z and can never
# row-validate them. This engine keeps the per-row strptime semantics
# (the canonical pandas kernel, which has no such check) and validates
# those formats — deliberately more capable, like the extended-golden
# cases the reference's Spark engine cannot run.

# CPython _strptime.TimeRE numeric patterns (named groups dropped, inner
# groups non-capturing; alternation ORDER preserved — it drives
# backtracking preference identically in Java and Python)
_TIMERE_NUMERIC = {
    "d": r"3[0-1]|[1-2]\d|0[1-9]|[1-9]| [1-9]",
    "f": r"[0-9]{1,6}",
    "H": r"2[0-3]|[0-1]\d|\d",
    "I": r"1[0-2]|0[1-9]|[1-9]",
    "j": r"36[0-6]|3[0-5]\d|[1-2]\d\d|0[1-9]\d|00[1-9]|[1-9]\d|0[1-9]|[1-9]",
    "m": r"1[0-2]|0[1-9]|[1-9]",
    "M": r"[0-5]\d|\d",
    "S": r"6[0-1]|[0-5]\d|\d",
    "w": r"[0-6]",
    "u": r"[1-7]",  # ISO weekday, Mon=1
    "U": r"5[0-3]|[0-4]\d|\d",
    "W": r"5[0-3]|[0-4]\d|\d",
    "V": r"5[0-3]|0[1-9]|[1-4]\d|\d",  # ISO week
    "y": r"\d\d",
    "Y": r"\d\d\d\d",
    "G": r"\d\d\d\d",  # ISO year
    "z": r"[+-]\d\d:?[0-5]\d(?::?[0-5]\d(?:\.\d{1,6})?)?|(?-i:Z)",
}
_REGEX_SPECIALS = set("\\.^$*+?(){}[]|")


def _re_lit(text: str) -> str:
    return "".join("\\" + c if c in _REGEX_SPECIALS else c for c in text)


def _seq_re(seq) -> str:
    # CPython TimeRE.__seqToRE: longest-first so e.g. 'july' wins over 'jul';
    # an empty name stays an empty alternative unless every name is empty
    ordered = sorted(seq, key=len, reverse=True)
    return "|".join(_re_lit(s) for s in ordered) if any(ordered) else ""


def _locale_strings() -> dict:
    """Name lists + locale composite formats, from the runtime locale the
    way strptime itself resolves them (the reference's per-row strptime is
    locale-dependent too); C-locale constants as the fallback."""
    try:
        import _strptime

        lt = _strptime.LocaleTime()
        return {
            "a_month": lt.a_month[1:], "f_month": lt.f_month[1:],
            "a_weekday": lt.a_weekday, "f_weekday": lt.f_weekday,
            "am_pm": lt.am_pm, "c": lt.LC_date_time, "x": lt.LC_date,
            "X": lt.LC_time,
            # LocaleTime.__calc_timezone: {"utc","gmt",tzname[0]} plus
            # tzname[1] when daylight — %Z matches any of them, and the
            # parse attaches no tzinfo (gmtoff stays None), so matching
            # is the whole semantic
            "tz": sorted(tz for tz_set in lt.timezone for tz in tz_set),
        }
    except Exception:
        return {
            "a_month": ["jan", "feb", "mar", "apr", "may", "jun", "jul",
                        "aug", "sep", "oct", "nov", "dec"],
            "f_month": ["january", "february", "march", "april", "may",
                        "june", "july", "august", "september", "october",
                        "november", "december"],
            "a_weekday": ["mon", "tue", "wed", "thu", "fri", "sat", "sun"],
            "f_weekday": ["monday", "tuesday", "wednesday", "thursday",
                          "friday", "saturday", "sunday"],
            "am_pm": ["am", "pm"],
            "c": "%a %b %d %H:%M:%S %Y", "x": "%m/%d/%y", "X": "%H:%M:%S",
            "tz": ["gmt", "utc"],
        }


_LOCALE_CACHE: dict = {}


def _directive_patterns() -> dict:
    if not _LOCALE_CACHE:
        ls = _locale_strings()
        pats = {k: v for k, v in _TIMERE_NUMERIC.items() if v}
        pats.update({
            "a": _seq_re(ls["a_weekday"]), "A": _seq_re(ls["f_weekday"]),
            "b": _seq_re(ls["a_month"]), "B": _seq_re(ls["f_month"]),
            "p": _seq_re(ls["am_pm"]), "Z": _seq_re(ls["tz"]),
        })
        _LOCALE_CACHE["patterns"] = pats
        _LOCALE_CACHE["composites"] = {
            "c": ls["c"], "x": ls["x"], "X": ls["X"]
        }
        _LOCALE_CACHE["a_month"] = [s.lower() for s in ls["a_month"]]
        _LOCALE_CACHE["f_month"] = [s.lower() for s in ls["f_month"]]
        _LOCALE_CACHE["a_weekday"] = [s.lower() for s in ls["a_weekday"]]
        _LOCALE_CACHE["f_weekday"] = [s.lower() for s in ls["f_weekday"]]
    return _LOCALE_CACHE["patterns"]


def strftime_to_regex(fmt: str) -> tuple:
    """Compile a strftime format to (anchored Java/Python regex, directive ->
    capture-group index), mirroring CPython TimeRE.pattern: locale
    composites (%c %x %X) expand first, regex specials in literals are
    escaped, whitespace runs in the FORMAT become \\s+, then each directive
    substitutes its TimeRE alternation as one capturing group. ``(?i)``
    reproduces strptime's IGNORECASE compile; \\A...\\z reproduces its
    full-match check (Java $ would tolerate a trailing newline)."""
    pats = _directive_patterns()
    comps = _LOCALE_CACHE["composites"]
    out, groups, gi = ["(?i)\\A"], {}, 0
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise ValueError(f"stray % in format {fmt!r}")
            d = fmt[i + 1]
            if d in comps:
                # splice the locale composite in place and reprocess — a
                # textual pre-replace would corrupt '%%c' (literal % + c)
                fmt = fmt[:i] + comps[d] + fmt[i + 2:]
                continue
            if d == "%":
                out.append("%")
            elif d in pats:
                if d in groups:
                    # CPython raises re.error (named-group redefinition)
                    raise ValueError(f"redefinition of directive %{d}")
                gi += 1
                groups[d] = gi
                out.append("(" + pats[d] + ")")
            else:
                raise ValueError(f"unsupported strftime directive: %{d}")
            i += 2
        elif c.isspace():
            j = i
            while j < len(fmt) and fmt[j].isspace():
                j += 1
            out.append("\\s+")
            i = j
        else:
            out.append(_re_lit(c))
            i += 1
    out.append("\\z")
    return "".join(out), groups


def strftime_match_expr(col: Column, fmt: str) -> Column:
    """Boolean Column: does the value parse under ``fmt`` with CPython
    strptime semantics? rlike carries every digit-shape/range/backtracking
    rule; the calendar check (month/day consistency against the effective
    year) runs only on regex-matching rows via a lazily-evaluated CASE.
    %j needs no calendar check: strptime computes the date as Jan 1 +
    (j-1) days, silently rolling day 366 of a non-leap year into the next
    year. Year 0 (regex-reachable via %Y=0000) is out of datetime's range
    and fails, with or without %j."""
    pattern, groups = strftime_to_regex(fmt)
    # ISO-directive combination rules — purely format-level, so they raise
    # at compile time with strptime's own messages (_strptime.py "Deal with
    # the cases where ambiguities arize" block): %G needs %V + a weekday
    # and no %j; %V without %G (or %U/%W) is always an error
    year_dirs = ("Y" in groups) or ("y" in groups)
    wd_present = any(d in groups for d in ("w", "a", "A", "u"))
    if not year_dirs and "G" in groups:
        if "V" not in groups or not wd_present:
            raise ValueError(
                "ISO year directive '%G' must be used with the ISO week "
                "directive '%V' and a weekday directive "
                "('%A', '%a', '%w', or '%u')."
            )
        if "j" in groups:
            raise ValueError(
                "Day of the year directive '%j' is not compatible with "
                "ISO year directive '%G'. Use '%Y' instead."
            )
    elif "V" in groups and "U" not in groups and "W" not in groups:
        if not wd_present:
            raise ValueError(
                "ISO week directive '%V' must be used with the ISO year "
                "directive '%G' and a weekday directive "
                "('%A', '%a', '%w', or '%u')."
            )
        raise ValueError(
            "ISO week directive '%V' is incompatible with the year "
            "directive '%Y'. Use the ISO year '%G' instead."
        )
    s = col.cast("string")
    matched = s.rlike(pattern)

    def grp(d: str) -> Column:
        return F.regexp_extract(s, pattern, groups[d])

    def ord_jan1_of(y: Column) -> Column:
        # proleptic-Gregorian ordinal of Jan 1 (pure arithmetic — safe for
        # any regex-reachable year, unlike make_date under ANSI mode)
        yp = y - 1
        return (
            yp * 365
            + F.floor(yp / 4)
            - F.floor(yp / 100)
            + F.floor(yp / 400)
            + 1
        ).cast("long")

    checks = []
    year = F.lit(1900)
    if "Y" in groups:
        year = grp("Y").cast("int")
        checks.append(year >= 1)
    elif "y" in groups:
        y2 = grp("y").cast("int")
        year = F.when(y2 <= 68, y2 + 2000).otherwise(y2 + 1900)
    # when several directives set the month, the LAST one in the format
    # wins — strptime iterates found_dict in group order, assigning month
    # each time — so order the setters by their capture-group index
    month = None
    month_names = {"b": "a_month", "B": "f_month"}
    for d in sorted(
        (d for d in ("m", "b", "B") if d in groups), key=lambda d: groups[d]
    ):
        if d == "m":
            month = grp("m").cast("int")
        else:
            month = F.array_position(
                F.array(*[F.lit(n) for n in _LOCALE_CACHE[month_names[d]]]),
                F.lower(grp(d)),
            ).cast("int")
    # datetime-construction range checks TimeRE's regex cannot express:
    # strptime parses the first-found regex division, so validate the
    # EXTRACTED tokens (never an alternative division that would parse).
    if "S" in groups:
        # TimeRE admits leap seconds 60/61; datetime.second caps at 59
        checks.append(grp("S").cast("int") <= 59)
    if "z" in groups:
        # timezone() requires |offset| strictly < 24h, and the parse code
        # rejects inconsistent ':' use ('+12:3045', '+1200:30') that the
        # regex admits: the token must be ±HHMM[SS[.f]] or ±HH:MM[:SS[.f]]
        # with HH<=23, or the literal 'Z'
        zv = grp("z")
        checks.append(
            (zv == "Z")
            | zv.rlike(
                r"\A[+-](?:2[0-3]|[01]\d)"
                r"(?::[0-5]\d(?::[0-5]\d(?:\.\d{1,6})?)?"
                r"|[0-5]\d(?:[0-5]\d(?:\.\d{1,6})?)?)\z"
            )
        )
    if "j" in groups and "Y" in groups:
        # Jan 1 + 365 days of non-leap 9999 is year 10000: fromordinal
        # raises; every other year rolls over silently
        checks.append(~((year == 9999) & (grp("j").cast("int") == 366)))
    # week-of-year + weekday (and no %j): strptime derives the date from
    # (year, week, weekday) via _calc_julian_from_U_or_W and OVERWRITES any
    # found month/day — '02-30 10 3' under '%m-%d %U %w' parses fine — so
    # the month/day calendar check must not run; instead reproduce the two
    # date-range failures: week-0 rollback into year-1 fails only at year 1
    # (date(0,..) raises), and a late week of year 9999 overflows
    # fromordinal. Both week and weekday take the LAST directive by group
    # order, like month above.
    week_dirs = [d for d in ("U", "W") if d in groups]
    wd_dirs = [d for d in ("w", "a", "A", "u") if d in groups]
    week_derived = "j" not in groups and week_dirs and wd_dirs
    # ISO path (%G+%V+weekday): only when no %U/%W (week_of_year takes
    # precedence in strptime's julian computation) and no %j (format error
    # above); the validation already guaranteed %Y/%y are absent
    iso_derived = (
        "j" not in groups
        and not week_dirs
        and "G" in groups
        and "V" in groups
        and wd_dirs
    )
    dow = None
    if week_derived or iso_derived:
        # weekday, Mon=0 — last directive by group order wins, like month
        wd_d = max(wd_dirs, key=lambda d: groups[d])
        if wd_d == "w":
            w_raw = grp("w").cast("int")  # 0=Sunday in the directive
            dow = F.when(w_raw == 0, F.lit(6)).otherwise(w_raw - 1)  # Mon=0
        elif wd_d == "u":
            dow = grp("u").cast("int") - 1  # ISO 1=Monday
        else:
            names = _LOCALE_CACHE["a_weekday" if wd_d == "a" else "f_weekday"]
            dow = (
                F.array_position(
                    F.array(*[F.lit(n) for n in names]), F.lower(grp(wd_d))
                )
                - 1
            ).cast("int")
    if week_derived:
        wk_d = max(week_dirs, key=lambda d: groups[d])
        week = grp(wk_d).cast("int")
        ord_jan1 = ord_jan1_of(year)
        fw = (ord_jan1 - 1) % 7  # weekday of Jan 1, Mon=0
        if wk_d == "U":  # week starts Sunday: shift the view
            fw = (fw + 1) % 7
            dow = (dow + 1) % 7
        week0len = (7 - fw) % 7
        julian = F.when(week == 0, F.lit(1) + dow - fw).otherwise(
            F.lit(1) + week0len + (week - 1) * 7 + dow
        )
        # julian <= 0 only via week 0: rolls back into year-1 (valid unless
        # that is year 0); otherwise the final ordinal must stay within
        # date.max = 9999-12-31 (ordinal 3652059)
        checks.append(
            F.when(julian <= 0, year > 1).otherwise(
                julian - 1 + ord_jan1 <= F.lit(3652059)
            )
        )
    elif iso_derived:
        # _calc_julian_from_V: correction = isoweekday(Jan 4 of G) + 3;
        # its internal previous-year rollback is a calendar relabeling, so
        # the absolute ordinal is always ord_jan1(G) - 1 + V*7 + iso_dow
        # - correction. Failures: %G=0000 (date(0,1,4) raises inside the
        # correction), the rollback at G=1 (date(0,1,1) raises), and
        # overflow past date.max
        g = grp("G").cast("int")
        ord_jan1_g = ord_jan1_of(g)
        corr = ((ord_jan1_g + 2) % 7) + 4
        ord0 = grp("V").cast("int") * 7 + (dow + 1) - corr
        checks.append(
            (g >= 1)
            & F.when(ord0 < 1, g >= 2).otherwise(F.lit(True))
            & (ord_jan1_g - 1 + ord0 <= F.lit(3652059))
        )
    if not week_derived and not iso_derived and "j" not in groups and (
        month is not None or "d" in groups
    ):
        day = grp("d").cast("int") if "d" in groups else F.lit(1)
        iso = F.concat_ws(
            "-",
            F.lpad(year.cast("string"), 4, "0"),
            F.lpad((month if month is not None else F.lit(1)).cast("string"), 2, "0"),
            F.lpad(day.cast("string"), 2, "0"),
        )
        checks.append(F.try_to_date(iso, "yyyy-MM-dd").isNotNull())
    if not checks:
        return matched
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    return F.when(matched, cond).otherwise(F.lit(False))


# the reference's experimental mini-DSL grammar (row_conditions.py:35-57),
# regex-transliterated from its pyparsing elements: col("<name>") where the
# name starts with a letter (Word(alphas, alphanums_.)), then either a
# caseless .notnull() or one of > < >= <= == followed by a number
# (fnumber Regex) or a quoted word of [alphanums._]. pyparsing skips
# whitespace between tokens but Combine() forbids it inside col("...").
# pyparsing's token-separator skip set is EXACTLY " \n\t\r"
# (ParserElement.DEFAULT_WHITE_CHARS) — not regex \s, which would also
# accept \x0b/\x0c/Unicode spaces the reference grammar rejects — and it
# applies around the quoted Word too: '== " x\r "' parses as value 'x'
_DSL_WS = r"[ \n\t\r]*"
_DSL_RE = re.compile(
    _DSL_WS + r'col\("(?P<column>[A-Za-z][A-Za-z0-9_.]*)"\)' + _DSL_WS
    + r"(?:(?P<notnull>\.notnull\(\))"
    + r"|(?P<op>>=|<=|==|>|<)" + _DSL_WS
    + r"(?:(?P<fnumber>[+-]?\d+(?:\.\d*)?(?:[eE][+-]?\d+)?)"
    + r"|\"" + _DSL_WS + r"(?P<dq>[A-Za-z0-9._]+)" + _DSL_WS + r"\""
    + r"|'" + _DSL_WS + r"(?P<sq>[A-Za-z0-9._]+)" + _DSL_WS + r"'))",
    re.IGNORECASE,
)


def translate_row_condition(row_condition: str, condition_parser: str = "spark") -> Column:
    """Pre-filter (domain) condition.

    - ``spark`` parser: raw Spark SQL (reference passes it verbatim to
      df.filter — sparkdf_execution_engine.py:458-478). ``spark_sql`` and a
      missing parser are accepted as aliases — a deliberate, documented
      divergence (the reference raises for them); strictly more permissive,
      configs valid on the reference behave identically.
    - ``great_expectations__experimental__`` mini-DSL: the reference's
      pyparsing grammar (row_conditions.py:35-146) reproduced exactly,
      including its quirks: parseString() PREFIX-parses, so trailing text
      ('col("a") > 3 AND ...') is silently IGNORED; only > < >= <= == are
      ops and string literals allow only ==; dotted names navigate structs
      (F.col semantics, not a backticked flat name); anything else raises
      the parser error that the reference turns into an exception EVR.
    """
    if condition_parser in ("spark", "spark_sql", None):
        return F.expr(row_condition)
    if condition_parser != "great_expectations__experimental__":
        # sparkdf_execution_engine.py:466-470
        raise ValueError(
            f"unrecognized condition_parser {str(condition_parser)} "
            "for Spark execution engine"
        )
    m = _DSL_RE.match(row_condition)
    # case-sensitivity: only .notnull() is caseless in the grammar
    # (CaselessLiteral); col(...) and the quotes are exact literals
    if m is None or not row_condition.lstrip().startswith('col("'):
        raise ValueError(f"unable to parse condition: {row_condition}")
    col = F.col(m.group("column"))
    if m.group("notnull"):
        return col.isNotNull()
    op = m.group("op")
    sval = m.group("dq") or m.group("sq")
    if sval is not None:
        if op != "==":
            raise ValueError(
                f"Invalid operator: {op} for string literal spark condition."
            )
        return col == sval
    raw = m.group("fnumber")
    try:
        num: Any = int(raw)
    except ValueError:
        num = float(raw)
    if op == ">":
        return col > num
    if op == "<":
        return col < num
    if op == ">=":
        return col >= num
    if op == "<=":
        return col <= num
    return col == num


def row_domain(kwargs: dict) -> Column:
    """The rows an expectation's ``row_condition`` (read with its
    ``condition_parser``) keeps; every row when it has none."""
    rc = kwargs.get("row_condition")
    if not rc:
        return F.lit(True)
    return translate_row_condition(rc, kwargs.get("condition_parser", "spark"))


def between_condition(
    col: Column,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
) -> Column:
    """Reference: column_values_between.py:316-420 (chained comparisons)."""
    cond = F.lit(True)
    if min_value is not None:
        c = col > lit_value(min_value) if strict_min else col >= lit_value(min_value)
        cond = cond & c
    if max_value is not None:
        c = col < lit_value(max_value) if strict_max else col <= lit_value(max_value)
        cond = cond & c
    return cond


def regex_list_condition(col: Column, regex_list: list[str], match_on: str = "any") -> Column:
    conds = [col.rlike(r) for r in regex_list]
    out = conds[0]
    for c in conds[1:]:
        out = (out | c) if match_on == "any" else (out & c)
    return out


@dataclass
class MapCondition:
    """Compiled map expectation.

    expected: boolean Column — True where the value satisfies the expectation.
    considered: boolean Column — rows that count toward the denominator
        (nonnull for column-map unless ``counts_nulls``; post-``ignore_row_if``
        for pair/multicolumn).
    value_expr: Column — what to show in unexpected_list samples.
    counts_nulls: True when null-ness itself is being asserted (null /
        not_null) → denominator is element_count, missing_count reported as 0
        w.r.t. the map (matches reference filter_column_isnull=False paths).
    """

    expected: Column
    considered: Column
    value_expr: Column
    counts_nulls: bool = False
    columns: list[str] = field(default_factory=list)
    # column whose dtype governs casting collected sample strings back to
    # Python values; None → keep strings (e.g. to_json struct samples).
    # "auto" → the single domain column when there is exactly one.
    cast_column: Any = "auto"
    # merged into the EVR result["details"] (non-BOOLEAN_ONLY formats) —
    # lets a builder surface scan provenance (e.g. PII patterns_version)
    extra_details: Optional[dict] = None

    @property
    def unexpected(self) -> Column:
        """Rows that count and do not meet the expectation (a NULL verdict
        is not a violation); AND it with ``row_domain`` for the domain."""
        return self.considered & F.coalesce(~self.expected, F.lit(False))

    def sample_cast_column(self) -> Any:
        if self.cast_column != "auto":
            return self.cast_column
        return self.columns[0] if len(self.columns) == 1 else None


# reference get_domain_records accepts distinct policy spellings per domain
# kind and raises for the rest (sparkdf_execution_engine.py:494-545): pair
# domains take both/either/neither (+ "never" accepted as a deprecated
# no-action alias, :511-515); column_list domains take all/any/never
PAIR_IGNORE_POLICIES = (
    "both_values_are_missing",
    "either_value_is_missing",
    "neither",
    "never",
)
MULTICOLUMN_IGNORE_POLICIES = (
    "all_values_are_missing",
    "any_value_is_missing",
    "never",
)


def validate_ignore_row_if(policy: Optional[str], allowed: tuple) -> None:
    """Reject domain-kind-inappropriate policies the way the reference does
    (ValueError -> exception EVR) instead of silently computing a verdict
    under a remapped policy."""
    if policy is not None and policy not in allowed:
        raise ValueError(f'Unrecognized value of ignore_row_if ("{policy}").')


def _ignore_row_if_considered(cols: list[Column], policy: str, default: str) -> Column:
    policy = policy or default
    if policy in ("both_values_are_missing", "all_values_are_missing"):
        out = cols[0].isNull()
        for c in cols[1:]:
            out = out & c.isNull()
        return ~out
    if policy in ("either_value_is_missing", "any_value_is_missing"):
        out = cols[0].isNull()
        for c in cols[1:]:
            out = out | c.isNull()
        return ~out
    if policy in ("neither", "never"):
        return F.lit(True)
    raise ValueError(f"unknown ignore_row_if: {policy}")


def _pair(kwargs: dict) -> tuple[Column, Column, list[str]]:
    a, b = kwargs["column_A"], kwargs["column_B"]
    return F.col(a), F.col(b), [a, b]


def _multi(kwargs: dict) -> tuple[list[Column], list[str]]:
    names = list(kwargs["column_list"])
    return [F.col(n) for n in names], names


def compile_map_condition(expectation_type: str, kwargs: dict[str, Any]) -> MapCondition:
    """expectation_type → MapCondition. Raises KeyError if not a map type."""
    builder = _MAP_BUILDERS[expectation_type]
    return builder(kwargs)


def _col_map(
    fn: Callable[[Column, dict], Column], counts_nulls: bool = False
) -> Callable[[dict], MapCondition]:
    def build(kwargs: dict) -> MapCondition:
        name = kwargs["column"]
        col = F.col(name)
        expected = fn(col, kwargs)
        considered = F.lit(True) if counts_nulls else col.isNotNull()
        return MapCondition(
            expected=expected,
            considered=considered,
            value_expr=col,
            counts_nulls=counts_nulls,
            columns=[name],
        )

    return build


def _in_set(col: Column, kw: dict) -> Column:
    vs = kw.get("value_set")
    if vs is None:
        # None → vacuously true (reference column_values_in_set.py:99-101)
        return F.lit(True)
    if len(vs) == 0:
        # empty set → nothing matches (pandas impl column_values_in_set.py:73-74)
        return F.lit(False)
    return col.isin(list(vs))


def _not_in_set(col: Column, kw: dict) -> Column:
    vs = kw.get("value_set")
    if vs is None:
        # reference raises on Spark (~isin(None)) — surface as a compile error
        raise ValueError("value_set is required for expect_column_values_to_not_be_in_set")
    if any(v is None for v in vs):
        # reference golden corpus: Spark isin cannot express None membership
        raise ValueError(
            "expect_column_values_to_not_be_in_set cannot support a None in the value_set in spark"
        )
    if len(vs) == 0:
        return F.lit(True)
    return ~col.isin(list(vs))


def _json_parse():
    import json

    return json.loads


def _dateutil_parse():
    from dateutil.parser import parse

    return parse


def _python_parseable_builder(
    kwargs: dict, get_parse: Callable, catch: tuple
) -> MapCondition:
    """Shared 'Python parser as an Arrow kernel' escape hatch: batch-apply
    the parser ``get_parse()`` returns (imported executor-side), a value is
    expected iff it parses, catching exactly ``catch`` — the two concrete
    expectations document why native expressions can't substitute."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def parseable(series: pd.Series) -> pd.Series:
        parse = get_parse()

        def ok(v):
            if v is None:
                return None
            try:
                parse(v)
                return True
            except catch:
                return False

        return series.map(ok).astype("boolean")

    name = kwargs["column"]
    col = F.col(name)
    return MapCondition(
        expected=F.coalesce(parseable(col), F.lit(False)),
        considered=col.isNotNull(),
        value_expr=col,
        columns=[name],
    )


def _json_parseable_builder(kwargs: dict) -> MapCondition:
    """expect_column_values_to_be_json_parseable — Arrow pandas_udf batch
    parse with stdlib json.loads, the reference's EXACT per-row semantics
    (column_values_json_parseable.py:28-38) minus the per-row F.udf.

    A native try_parse_json expression diverges from json.loads in BOTH
    directions (probed empirically on Spark 4.1): the variant parser
    rejects the non-standard literals NaN/Infinity/-Infinity and
    duplicate-key objects that json.loads accepts, and — worse — it
    ACCEPTS trailing garbage ('1 2', '[1]extra') that json.loads rejects,
    silently passing rows the reference fails. Exact parity needs Python's
    parser, so this is the documented Arrow-batch escape hatch (same
    pattern as _match_json_schema). Fuzz-guarded directly against
    json.loads in tests/test_fuzz_oracle.py's g_json. Catches Exception:
    json.loads raises TypeError on non-str, which the reference's kernel
    maps to row-False too."""
    return _python_parseable_builder(kwargs, _json_parse, (Exception,))


def _no_pii(col: Column, kw: dict) -> Column:
    # beyond-reference: row passes iff no PII pattern matches; optional
    # kwargs pii_types selects a subset of operators/text.py PII_PATTERNS
    from great_expectations_spark.operators.text import pii_total

    types = kw.get("pii_types")
    return pii_total(col, list(types) if types is not None else None) == 0


def _no_pii_builder(kwargs: dict) -> MapCondition:
    """no-PII map condition + scan provenance in EVR details.

    The patterns are DETECTION-grade (a matched credit_card is digits in
    card grouping, not a Luhn-checked number — see text.PII_PATTERNS), but
    this expectation will be quoted as a compliance gate, so the EVR
    carries details.patterns_version + details.pii_types_scanned: a
    downstream consumer can always tell which inventory was scanned."""
    from great_expectations_spark.operators.text import (
        PII_PATTERNS,
        PII_PATTERNS_VERSION,
    )

    mc = _col_map(_no_pii)(kwargs)
    types = kwargs.get("pii_types")
    mc.extra_details = {
        "patterns_version": PII_PATTERNS_VERSION,
        "pii_types_scanned": list(types) if types is not None else list(PII_PATTERNS),
    }
    return mc


def _valid_urls(col: Column, kw: dict) -> Column:
    # beyond-reference: absolute-URL shape check (operators/text.py
    # is_valid_url); optional kwargs schemes restricts accepted schemes
    from great_expectations_spark.operators.text import is_valid_url

    schemes = kw.get("schemes")
    return is_valid_url(col, list(schemes) if schemes is not None else None)


def _maybe_datetime_bound(v: Any, kw: dict) -> Any:
    """Legacy ``parse_strings_as_datetimes`` support: string bounds against a
    timestamp column parse via dateutil (reference column_values_between.py
    legacy branch) — otherwise Spark's string→timestamp cast rejects
    non-ISO formats."""
    if isinstance(v, str) and kw.get("parse_strings_as_datetimes"):
        from dateutil import parser

        return parser.parse(v)
    return v


# dateutil accepts many formats; cover the common non-ISO ones natively
_DATEUTIL_PATTERNS = ["M/d/yyyy", "M/d/yy", "MMM d yyyy", "MMMM d, yyyy", "yyyyMMdd"]


def dateutil_parse_expr(col: Column) -> Column:
    """Best-effort dateutil-style parse as a timestamp Column (NULL when no
    attempt matches) — the ISO default plus the common non-ISO patterns."""
    attempts = [F.try_to_timestamp(col)] + [
        F.try_to_timestamp(col, F.lit(p)) for p in _DATEUTIL_PATTERNS
    ]
    return F.coalesce(*attempts)


def _dateutil_parseable_builder(kwargs: dict) -> MapCondition:
    """expect_column_values_to_be_dateutil_parseable — Arrow pandas_udf
    batch parse with dateutil.parser.parse, the reference's EXACT kernel
    (column_values_dateutil_parseable.py:14-28, pandas-only there; the
    reference has no Spark path for this expectation at all). dateutil's
    accepted language ('Sat Oct 11 17:13:46 2003', '5th of March 2001',
    lone years, month-swap on day>12) is far wider than any fixed
    try_to_timestamp pattern list, and diverges in both directions, so this
    is the documented Arrow-batch escape hatch — same pattern and rationale
    as _json_parseable_builder. The planner's _STRING_INPUT_TYPES guard
    raises the reference's TypeError for non-string columns before the
    kernel runs. dateutil_parse_expr (the native pattern-coalesce) remains
    the documented approximation for the pair/bounds
    parse_strings_as_datetimes paths. Catches exactly
    (ValueError, OverflowError), like the reference
    (column_values_dateutil_parseable.py:25-26)."""
    return _python_parseable_builder(
        kwargs, _dateutil_parse, (ValueError, OverflowError)
    )


def _psd(kw: dict, c: Column) -> Column:
    """parse_strings_as_datetimes on a column-pair side. The reference's
    own Spark path uses bare F.to_date (ISO only,
    column_pair_values_greater.py:120-121); the canonical pandas path is
    dateutil.parser.parse per row, so this routes through the same
    pattern-coalesce the dateutil expectation uses — '5/5/2016' style
    values compare as dates, matching the reference's pandas corpus case
    (test_parse_strings_as_datetimes_and_mostly). A value NO attempt parses
    becomes NULL, so its comparison is NULL → the row counts as
    not-unexpected — the same verdict the reference's Spark engine produces
    for every non-ISO string (to_date → NULL). Only the greater-than metric
    consumes this kwarg; the equal metric declares condition_value_keys = ()
    on every engine (column_pair_values_equal.py:26) and always compares raw
    values."""
    return dateutil_parse_expr(c) if kw.get("parse_strings_as_datetimes") else c


def _strftime(col: Column, kw: dict) -> Column:
    return strftime_match_expr(col, kw["strftime_format"])


_MAP_BUILDERS: dict[str, Callable[[dict], MapCondition]] = {
    # --- null-ness (counts_nulls=True: denominator = element_count) ---
    "expect_column_values_to_be_null": _col_map(
        lambda c, kw: c.isNull(), counts_nulls=True
    ),
    "expect_column_values_to_not_be_null": _col_map(
        lambda c, kw: c.isNotNull(), counts_nulls=True
    ),
    # --- value ranges / sets ---
    "expect_column_values_to_be_between": _col_map(
        lambda c, kw: between_condition(
            c,
            _maybe_datetime_bound(kw.get("min_value"), kw),
            _maybe_datetime_bound(kw.get("max_value"), kw),
            bool(kw.get("strict_min", False)),
            bool(kw.get("strict_max", False)),
        )
    ),
    "expect_column_values_to_be_in_set": _col_map(_in_set),
    "expect_column_values_to_not_be_in_set": _col_map(_not_in_set),
    # --- string lengths ---
    "expect_column_value_lengths_to_equal": _col_map(
        lambda c, kw: F.length(c) == int(kw["value"])
    ),
    "expect_column_value_lengths_to_be_between": _col_map(
        lambda c, kw: between_condition(
            F.length(c),
            kw.get("min_value"),
            kw.get("max_value"),
            bool(kw.get("strict_min", False)),
            bool(kw.get("strict_max", False)),
        )
    ),
    # --- regex / LIKE ---
    "expect_column_values_to_match_regex": _col_map(lambda c, kw: c.rlike(kw["regex"])),
    "expect_column_values_to_not_match_regex": _col_map(
        lambda c, kw: ~c.rlike(kw["regex"])
    ),
    "expect_column_values_to_match_regex_list": _col_map(
        lambda c, kw: regex_list_condition(
            c, list(kw["regex_list"]), kw.get("match_on", "any")
        )
    ),
    "expect_column_values_to_not_match_regex_list": _col_map(
        # clean conjunction of negations (the reference's fold at
        # column_values_not_match_regex_list.py:52-61 is skip-listed on Spark)
        lambda c, kw: ~regex_list_condition(c, list(kw["regex_list"]), "any")
    ),
    "expect_column_values_to_match_like_pattern": _col_map(
        lambda c, kw: c.like(kw["like_pattern"])
    ),
    "expect_column_values_to_not_match_like_pattern": _col_map(
        lambda c, kw: ~c.like(kw["like_pattern"])
    ),
    "expect_column_values_to_match_like_pattern_list": _col_map(
        lambda c, kw: _like_list(c, list(kw["like_pattern_list"]), kw.get("match_on", "any"))
    ),
    "expect_column_values_to_not_match_like_pattern_list": _col_map(
        lambda c, kw: ~_like_list(c, list(kw["like_pattern_list"]), "any")
    ),
    # --- parse-ability (native, no per-row Python) ---
    "expect_column_values_to_match_strftime_format": _col_map(_strftime),
    "expect_column_values_to_be_dateutil_parseable": _dateutil_parseable_builder,
    "expect_column_values_to_be_json_parseable": _json_parseable_builder,
    # --- PII / URL gates (beyond-reference surface; operators/text.py) ---
    "expect_column_values_to_not_contain_pii": _no_pii_builder,
    "expect_column_values_to_be_valid_urls": _col_map(_valid_urls),
    # --- column pair ---
    # equal NEVER parses datetimes: the reference metric takes no value
    # keys (column_pair_values_equal.py:26 condition_value_keys = ()), so a
    # parse_strings_as_datetimes kwarg is inert there and must be here too
    "expect_column_pair_values_to_be_equal": lambda kw: _pair_cond(
        kw,
        lambda a, b: a.eqNullSafe(b),
        default_ignore="both_values_are_missing",
    ),
    "expect_column_pair_values_a_to_be_greater_than_b": lambda kw: _pair_cond(
        kw,
        lambda a, b: (
            (_psd(kw, a) >= _psd(kw, b))
            if kw.get("or_equal")
            else (_psd(kw, a) > _psd(kw, b))
        ),
        default_ignore="both_values_are_missing",
    ),
    # reference class name keeps capital A/B (expect_column_pair_values_a_to_be_greater_than_b.py)
    "expect_column_pair_values_A_to_be_greater_than_B": lambda kw: _pair_cond(
        kw,
        lambda a, b: (
            (_psd(kw, a) >= _psd(kw, b))
            if kw.get("or_equal")
            else (_psd(kw, a) > _psd(kw, b))
        ),
        default_ignore="both_values_are_missing",
    ),
    "expect_column_pair_values_to_be_in_set": lambda kw: _pair_cond(
        kw,
        lambda a, b: _pair_in_set(a, b, kw["value_pairs_set"]),
        default_ignore="both_values_are_missing",
    ),
    # --- multicolumn ---
    # reference default_kwarg_values declare ignore_row_if=
    # "all_values_are_missing" for BOTH multicolumn map expectations
    # (expect_multicolumn_sum_to_equal.py:54,
    # expect_select_column_values_to_be_unique_within_record.py:70) — a
    # partially-null row stays in the considered denominator (and, for
    # within-record uniqueness, two NULL components eqNullSafe-match, so
    # such a row is a genuine violation)
    "expect_multicolumn_sum_to_equal": lambda kw: _multi_cond(
        kw,
        lambda cols: _sum_cols(cols) == lit_value(kw["sum_total"]),
        default_ignore="all_values_are_missing",
    ),
    "expect_select_column_values_to_be_unique_within_record": lambda kw: _multi_cond(
        kw,
        _all_differ_within_row,
        default_ignore="all_values_are_missing",
    ),
    # deprecated alias with IDENTICAL semantics (dataset.py:4603-4626
    # "Expect the values for each record to be unique across the columns
    # listed. Note that records can be duplicated.") — within-record, NOT
    # across-rows compound uniqueness, despite the name
    "expect_multicolumn_values_to_be_unique": lambda kw: _multi_cond(
        kw,
        _all_differ_within_row,
        default_ignore="all_values_are_missing",
    ),
}


def _like_list(col: Column, patterns: list[str], match_on: str) -> Column:
    conds = [col.like(p) for p in patterns]
    out = conds[0]
    for c in conds[1:]:
        out = (out | c) if match_on == "any" else (out & c)
    return out


def _pair_in_set(a: Column, b: Column, pairs: list) -> Column:
    conds = [a.eqNullSafe(lit_value(x)) & b.eqNullSafe(lit_value(y)) for x, y in pairs]
    out = F.lit(False)
    for c in conds:
        out = out | c
    return out


def _sum_cols(cols: list[Column]) -> Column:
    out = F.coalesce(cols[0], F.lit(0))
    for c in cols[1:]:
        out = out + F.coalesce(c, F.lit(0))
    return out


def _all_differ_within_row(cols: list[Column]) -> Column:
    # reference: select_column_values_unique_within_record.py:69-90
    any_equal = F.lit(False)
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            any_equal = any_equal | cols[i].eqNullSafe(cols[j])
    return ~any_equal


def _pair_cond(
    kwargs: dict, fn: Callable[[Column, Column], Column], default_ignore: str
) -> MapCondition:
    a, b, names = _pair(kwargs)
    validate_ignore_row_if(kwargs.get("ignore_row_if"), PAIR_IGNORE_POLICIES)
    considered = _ignore_row_if_considered(
        [a, b], kwargs.get("ignore_row_if"), default_ignore
    )
    return MapCondition(
        expected=fn(a, b),
        considered=considered,
        value_expr=F.to_json(
            F.struct(a.alias(names[0]), b.alias(names[1])),
            {"ignoreNullFields": "false"},
        ),
        counts_nulls=False,
        columns=names,
    )


def _multi_cond(
    kwargs: dict, fn: Callable[[list[Column]], Column], default_ignore: str
) -> MapCondition:
    cols, names = _multi(kwargs)
    validate_ignore_row_if(
        kwargs.get("ignore_row_if"), MULTICOLUMN_IGNORE_POLICIES
    )
    considered = _ignore_row_if_considered(
        cols, kwargs.get("ignore_row_if"), default_ignore
    )
    return MapCondition(
        expected=fn(cols),
        considered=considered,
        value_expr=F.to_json(
            F.struct(*[c.alias(n) for c, n in zip(cols, names)]),
            {"ignoreNullFields": "false"},
        ),
        counts_nulls=False,
        columns=names,
    )


def is_map_expectation(expectation_type: str) -> bool:
    return expectation_type in _MAP_BUILDERS


def register_map_expectation(
    expectation_type: str, builder: Callable[[dict], MapCondition]
) -> None:
    """Extension point (image expectations etc. plug in here). The planner's
    dispatch table copies this registry when ``plans.planner`` is imported,
    so register from a module the planner imports (as operators.images)."""
    _MAP_BUILDERS[expectation_type] = builder


# ---- pandas-UDF-backed conditions (Arrow batches, never per-row Python) --


def _json_schema_udf(schema_json: str):
    import json as _json

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def matches(series: pd.Series) -> pd.Series:
        # validator built once per executor batch stream, not per row
        try:
            import jsonschema

            validator = jsonschema.Draft7Validator(_json.loads(schema_json))

            def ok(v):
                if v is None:
                    return None
                try:
                    return validator.is_valid(_json.loads(v))
                except Exception:
                    return False

        except ImportError:  # minimal fallback: parseable + type-of-root
            root_type = _json.loads(schema_json).get("type")
            py_types = {
                "object": dict, "array": list, "string": str,
                "number": (int, float), "integer": int, "boolean": bool,
            }

            def ok(v):
                if v is None:
                    return None
                try:
                    parsed = _json.loads(v)
                except Exception:
                    return False
                want = py_types.get(root_type)
                return True if want is None else isinstance(parsed, want)

        return series.map(ok).astype("boolean")

    return matches


def _match_json_schema(kwargs: dict) -> MapCondition:
    """expect_column_values_to_match_json_schema — Arrow pandas_udf batch
    validation (reference runs per-row F.udf(jsonschema.validate) at
    column_values_match_json_schema.py:38-57)."""
    name = kwargs["column"]
    col = F.col(name)
    schema_json = json.dumps(kwargs["json_schema"], sort_keys=True)
    expected = _json_schema_udf(schema_json)(col)
    return MapCondition(
        expected=F.coalesce(expected, F.lit(False)),
        considered=col.isNotNull(),
        value_expr=col,
        columns=[name],
    )


_MAP_BUILDERS["expect_column_values_to_match_json_schema"] = _match_json_schema
