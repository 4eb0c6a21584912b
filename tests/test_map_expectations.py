"""Golden tests for map expectations on reference-style micro-datasets
(FIXTURES.md F3; mirrors tests/test_definitions/* in the reference)."""

import pytest
from pyspark.sql import types as T

from great_expectations_spark import ExpectationSuite, validate


@pytest.fixture(scope="module")
def golden(spark):
    schema = T.StructType(
        [
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("z", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.IntegerType()),
        ]
    )
    rows = [
        (1, 1.1, "hello", None, 1, 1),
        (2, 2.2, "jello", 1, 2, 1),
        (4, 5.5, "mello", 2, None, None),
        (4, 5.5, "abc", 2, 3, None),
        (5, -1.0, None, 3, 1, 2),
    ]
    return spark.createDataFrame(rows, schema)


def run_one(df, expectation_type, rf="COMPLETE", **kwargs):
    suite = ExpectationSuite("t")
    suite.add(expectation_type, **kwargs)
    res = validate(df, suite, result_format=rf)
    return res.results[0]


def test_not_be_null(golden):
    evr = run_one(golden, "expect_column_values_to_not_be_null", column="n")
    assert evr.success is False
    r = evr.result
    assert r["element_count"] == 5
    assert r["unexpected_count"] == 1
    # null-ness expectation: denominator is element_count
    assert r["unexpected_percent"] == 20.0
    assert r["missing_count"] == 0


def test_be_null(golden):
    evr = run_one(golden, "expect_column_values_to_be_null", column="n", mostly=0.2)
    assert evr.success is True
    assert evr.result["unexpected_count"] == 4


def test_between_with_nulls(golden):
    evr = run_one(
        golden, "expect_column_values_to_be_between", column="n", min_value=1, max_value=2
    )
    r = evr.result
    assert r["element_count"] == 5
    assert r["missing_count"] == 1
    assert r["unexpected_count"] == 1  # the 3
    assert evr.success is False
    assert r["unexpected_list"] == [3]
    # nonnull denominator
    assert r["unexpected_percent"] == 25.0


def test_between_strict(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_be_between",
        column="x",
        min_value=1,
        max_value=5,
        strict_max=True,
    )
    assert evr.result["unexpected_count"] == 1  # the 5
    assert evr.result["unexpected_list"] == [5]


def test_between_mostly(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_be_between",
        column="x",
        min_value=1,
        max_value=4,
        mostly=0.8,
    )
    assert evr.success is True


def test_in_set(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_be_in_set",
        column="z",
        value_set=["hello", "jello", "mello"],
    )
    assert evr.success is False
    assert evr.result["unexpected_list"] == ["abc"]
    # nulls not counted
    assert evr.result["missing_count"] == 1
    assert evr.result["unexpected_percent"] == 25.0


def test_in_set_empty_set_fails_none_vacuous(golden):
    # [] → nothing matches (reference column_values_in_set.py:73-74);
    # None → vacuously true (:99-101)
    evr = run_one(
        golden, "expect_column_values_to_be_in_set", column="z", value_set=[]
    )
    assert evr.success is False
    assert evr.result["unexpected_count"] == evr.result["element_count"] - evr.result["missing_count"]
    evr2 = run_one(
        golden, "expect_column_values_to_be_in_set", column="z", value_set=None
    )
    assert evr2.success is True
    assert evr2.result["unexpected_count"] == 0


def test_not_in_set(golden):
    evr = run_one(
        golden, "expect_column_values_to_not_be_in_set", column="z", value_set=["abc"]
    )
    assert evr.success is False
    assert evr.result["unexpected_list"] == ["abc"]


def test_value_lengths(golden):
    evr = run_one(
        golden, "expect_column_value_lengths_to_equal", column="z", value=5
    )
    assert evr.result["unexpected_list"] == ["abc"]
    evr = run_one(
        golden,
        "expect_column_value_lengths_to_be_between",
        column="z",
        min_value=4,
        max_value=10,
    )
    assert evr.result["unexpected_count"] == 1


def test_match_regex(golden):
    evr = run_one(
        golden, "expect_column_values_to_match_regex", column="z", regex=".ello"
    )
    assert evr.success is False
    assert evr.result["unexpected_list"] == ["abc"]


def test_not_match_regex(golden):
    evr = run_one(
        golden, "expect_column_values_to_not_match_regex", column="z", regex="^a"
    )
    assert evr.result["unexpected_list"] == ["abc"]
    evr = run_one(
        golden, "expect_column_values_to_not_match_regex", column="z", regex="^q"
    )
    assert evr.result["unexpected_count"] == 0


def test_match_regex_list_any_all(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_match_regex_list",
        column="z",
        regex_list=["^h", "ello"],
        match_on="any",
    )
    assert evr.result["unexpected_list"] == ["abc"]
    evr = run_one(
        golden,
        "expect_column_values_to_match_regex_list",
        column="z",
        regex_list=["^h", "ello"],
        match_on="all",
    )
    assert sorted(evr.result["unexpected_list"]) == ["abc", "jello", "mello"]


def test_like_pattern(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_match_like_pattern",
        column="z",
        like_pattern="%ello",
    )
    assert evr.result["unexpected_list"] == ["abc"]


def test_pair_equal_ignore_both_missing(golden):
    evr = run_one(
        golden,
        "expect_column_pair_values_to_be_equal",
        column_A="a",
        column_B="b",
    )
    r = evr.result
    # row (None, None) ignored; considered = 4; unexpected: (2,1), (3,None), (1,2)
    assert r["element_count"] == 5
    assert r["missing_count"] == 1
    assert r["unexpected_count"] == 3
    assert evr.success is False


def test_pair_equal_ignores_parse_strings_as_datetimes(spark):
    # the reference's equal metric consumes NO value keys
    # (column_pair_values_equal.py:26 condition_value_keys = ()), so
    # parse_strings_as_datetimes is inert and raw strings compare: the same
    # date spelled two ways is UNEQUAL (only greater-than parses datetimes)
    df = spark.createDataFrame(
        [("5/5/2016", "2016-05-05"), ("x", "x")], ["a", "b"]
    )
    evr = run_one(
        df,
        "expect_column_pair_values_to_be_equal",
        column_A="a",
        column_B="b",
        parse_strings_as_datetimes=True,
    )
    assert evr.result["unexpected_count"] == 1
    assert evr.result["partial_unexpected_list"] == [
        '{"a":"5/5/2016","b":"2016-05-05"}'
    ]


def test_strftime_literal_digit_adjacency(spark):
    # a literal digit next to a numeric directive needs regex backtracking
    # ('15' under '%m5' parses as month 1 + literal 5) — the TimeRE-compiled
    # rlike reproduces strptime exactly where a java.time pattern cannot
    # (fixed-width 'MM5' rejects '15', flexible 'M5' rejects even '015')
    from great_expectations_spark.operators.conditions import (
        strftime_to_regex,
    )

    pat, groups = strftime_to_regex("%m5")
    assert pat == r"(?i)\A(1[0-2]|0[1-9]|[1-9])5\z" and groups == {"m": 1}
    df = spark.createDataFrame([("015",), ("125",), ("15",), ("135",)], ["d"])
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%m5",
    )
    # strptime parses all but '135' (no month matches before the literal 5)
    assert evr.result["unexpected_count"] == 1
    assert evr.result["partial_unexpected_list"] == ["135"]


def test_pair_greater(golden):
    evr = run_one(
        golden,
        "expect_column_pair_values_a_to_be_greater_than_b",
        column_A="a",
        column_B="b",
        or_equal=True,
        ignore_row_if="either_value_is_missing",
    )
    r = evr.result
    # considered pairs: (1,1),(2,1),(1,2) → unexpected only (1,2)
    assert r["unexpected_count"] == 1
    assert r["element_count"] == 5
    assert r["missing_count"] == 2


def test_multicolumn_sum(spark):
    df = spark.createDataFrame(
        [(1, 2, 7), (3, 3, 4), (5, 5, 5)], ["p", "q", "r"]
    )
    evr = run_one(
        df,
        "expect_multicolumn_sum_to_equal",
        column_list=["p", "q", "r"],
        sum_total=10,
    )
    assert evr.result["unexpected_count"] == 1
    assert evr.success is False


def test_unique_within_record(spark):
    df = spark.createDataFrame([(1, 2, 3), (1, 1, 2), (4, 5, 6)], ["p", "q", "r"])
    evr = run_one(
        df,
        "expect_select_column_values_to_be_unique_within_record",
        column_list=["p", "q", "r"],
    )
    assert evr.result["unexpected_count"] == 1


def test_multicolumn_values_to_be_unique_is_within_record(spark):
    """The deprecated expect_multicolumn_values_to_be_unique has
    WITHIN-RECORD semantics (dataset.py:4603-4626: 'Expect the values for
    each record to be unique across the columns listed. Note that records
    can be duplicated.'), not across-rows compound uniqueness."""
    # two IDENTICAL (1, 2, 3) records: duplicated records are fine; only
    # the row with a repeated value inside it fails
    df = spark.createDataFrame(
        [(1, 2, 3), (1, 2, 3), (1, 1, 2), (8, 2, 7)], ["p", "q", "r"]
    )
    evr = run_one(
        df,
        "expect_multicolumn_values_to_be_unique",
        column_list=["p", "q", "r"],
    )
    assert evr.result["unexpected_count"] == 1
    assert evr.success is False

    df_ok = spark.createDataFrame([(1, 2, 3), (1, 2, 3)], ["p", "q", "r"])
    evr = run_one(
        df_ok,
        "expect_multicolumn_values_to_be_unique",
        column_list=["p", "q", "r"],
    )
    assert evr.success is True


def test_multicolumn_default_ignore_row_if_keeps_partial_nulls(spark):
    """Reference default ignore_row_if='all_values_are_missing' for BOTH
    multicolumn map expectations: a partially-null row stays considered.
    For within-record uniqueness two NULL components eqNullSafe-match (a
    violation, select_column_values_unique_within_record.py _spark); for
    sum_to_equal the reference Spark impl COALESCEs each column to 0."""
    df = spark.createDataFrame(
        [(None, None, 5), (1, 2, 3), (None, None, None)],
        "p int, q int, r int",
    )
    evr = run_one(
        df,
        "expect_select_column_values_to_be_unique_within_record",
        column_list=["p", "q", "r"],
    )
    # (NULL, NULL, 5) is considered and fails; the all-NULL row is ignored
    assert evr.result["unexpected_count"] == 1
    assert evr.success is False

    # sum: (NULL, NULL, 5) coalesces to 5 != 6 -> unexpected; all-NULL
    # row ignored by default, but COUNTED (coalesced to 0) under 'never'
    evr = run_one(
        df, "expect_multicolumn_sum_to_equal", column_list=["p", "q", "r"],
        sum_total=6,
    )
    assert evr.result["unexpected_count"] == 1
    evr = run_one(
        df, "expect_multicolumn_sum_to_equal", column_list=["p", "q", "r"],
        sum_total=6, ignore_row_if="never",
    )
    assert evr.result["unexpected_count"] == 2


def test_ignore_row_if_domain_kind_validation(spark):
    """Domain-kind-inappropriate ignore_row_if spellings raise, as in the
    reference's get_domain_records (sparkdf_execution_engine.py:494-545) —
    a failed EVR with the ValueError, not a silently remapped verdict."""
    from great_expectations_spark import ExpectationSuite, validate

    df = spark.createDataFrame([(1, 2, "a")], "p int, q int, g string")
    suite = ExpectationSuite("iri-validation")
    # pair-only spelling on a column_list domain
    suite.add(
        "expect_compound_columns_to_be_unique",
        column_list=["p", "q"],
        ignore_row_if="neither",
    )
    suite.add(
        "expect_multicolumn_sum_to_equal",
        column_list=["p", "q"],
        sum_total=3,
        ignore_row_if="either_value_is_missing",
    )
    # column_list-only spelling on a pair domain
    suite.add(
        "expect_column_pair_values_to_be_equal",
        column_A="p",
        column_B="q",
        ignore_row_if="all_values_are_missing",
    )
    # valid spellings still work
    suite.add(
        "expect_column_pair_values_to_be_equal",
        column_A="p", column_B="q", ignore_row_if="neither",
    )
    res = validate(df, suite)
    by_type = {}
    for r in res.results:
        by_type.setdefault(
            r.expectation_config["expectation_type"], []
        ).append(r)
    for t in (
        "expect_compound_columns_to_be_unique",
        "expect_multicolumn_sum_to_equal",
    ):
        (evr,) = by_type[t]
        assert evr.success is False
        assert "Unrecognized value of ignore_row_if" in (
            evr.exception_info or {}
        ).get("exception_message", ""), evr.exception_info
    pair_evrs = sorted(
        by_type["expect_column_pair_values_to_be_equal"],
        key=lambda r: str(r.expectation_config["kwargs"]["ignore_row_if"]),
    )
    bad_pair, ok_pair = pair_evrs  # all_values... sorts before neither
    assert "Unrecognized value of ignore_row_if" in (
        bad_pair.exception_info or {}
    ).get("exception_message", "")
    assert ok_pair.success is False  # 1 != 2 — a genuine verdict, no error
    assert not (ok_pair.exception_info or {}).get("raised_exception")


def test_strftime(spark):
    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-13-45",), ("nope",)], ["d"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y-%m-%d",
    )
    assert evr.result["unexpected_count"] == 2


def test_strftime_non_padded_reference_parity(spark):
    # Python's strptime (the reference's per-row implementation) matches
    # numeric directives with 1-2 digit regexes, so non-zero-padded values
    # parse; separator-delimited directives map to Spark's variable-width
    # tokens to agree
    df = spark.createDataFrame(
        [("2021-3-4",), ("2021-03-04",), ("2021-13-4",), ("5:9:26",)], ["d"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y-%m-%d",
    )
    assert evr.result["unexpected_count"] == 2  # month 13 + the time string


def test_strftime_exact_strptime_hard_cases(spark):
    # the cases the old java.time-pattern compiler DIVERGED on, now exact
    # (conditions.py strftime section): backtracking through adjacent
    # numeric runs, the %j=366 silent rollover into the next year, calendar
    # validity against strptime's default year 1900, year 0, and
    # case-insensitive month names
    df = spark.createDataFrame(
        [("17761007",), ("1776107",), ("1776137",)], ["d"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y%m%d",
    )
    # both padded and backtracking-only forms parse, like strptime;
    # '1776137' has no valid month/day split (month 13 impossible, month 1
    # leaves day 37)
    assert evr.result["unexpected_count"] == 1
    assert evr.result["partial_unexpected_list"] == ["1776137"]

    df2 = spark.createDataFrame(
        [("2020-366",), ("2021-366",), ("0000-100",)], ["d"]
    )
    evr2 = run_one(
        df2,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y-%j",
    )
    # strptime accepts BOTH 366s (non-leap rolls to 2022-01-01); year 0 is
    # out of datetime's range even though the regex shape matches
    assert evr2.result["unexpected_count"] == 1
    assert evr2.result["partial_unexpected_list"] == ["0000-100"]

    df3 = spark.createDataFrame(
        [("29 FEB 2020",), ("29 feb 1900",), ("29 Feb 2000",)], ["d"]
    )
    evr3 = run_one(
        df3,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%d %b %Y",
    )
    # month names any-case; Feb 29 only in leap years (1900 is not one)
    assert evr3.result["unexpected_count"] == 1
    assert evr3.result["partial_unexpected_list"] == ["29 feb 1900"]

    df4 = spark.createDataFrame([("02-29",), ("02-28",)], ["d"])
    evr4 = run_one(
        df4,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%m-%d",
    )
    # no year directive -> strptime validates against its default 1900
    assert evr4.result["unexpected_count"] == 1
    assert evr4.result["partial_unexpected_list"] == ["02-29"]


def test_strftime_datetime_construction_limits(spark):
    # TimeRE's regex admits these, but datetime.strptime (the reference's
    # per-row kernel) raises at datetime construction — each must FAIL the
    # row, not pass on regex shape alone (conditions.py post-match checks)
    df = spark.createDataFrame([("59",), ("60",), ("61",)], ["d"])
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%S",
    )
    # leap seconds: regex 6[0-1] matches, datetime.second caps at 59
    assert sorted(evr.result["partial_unexpected_list"]) == ["60", "61"]

    zdf = spark.createDataFrame(
        [
            ("+2359",), ("Z",), ("+12:30:45.123",), ("+123045",),
            ("-2400",), ("+2500",), ("+1200:30",), ("+12:3045",), ("z",),
        ],
        ["d"],
    )
    zevr = run_one(
        zdf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%z",
    )
    # offsets must be strictly inside ±24h and colon-consistent; 'Z' is
    # case-sensitive in TimeRE
    assert sorted(zevr.result["partial_unexpected_list"]) == [
        "+1200:30", "+12:3045", "+2500", "-2400", "z",
    ]

    jdf = spark.createDataFrame(
        [("9999-365",), ("9999-366",), ("2021-366",)], ["d"]
    )
    jevr = run_one(
        jdf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y-%j",
    )
    # day 366 of non-leap 9999 rolls past year 9999: fromordinal raises
    assert jevr.result["partial_unexpected_list"] == ["9999-366"]

    # strptime parses the regex's FIRST division and never retries another:
    # '601' under %S%f fails with S=60 even though S=6,f='01' would parse,
    # and '+12:30451' under %z%f fails with z='+12:3045' (inconsistent ':')
    # even though z='+12:30',f='451' would parse — the checks must run on
    # the extracted groups, not on any-division-that-would-pass
    ddf = spark.createDataFrame([("601",), ("591",)], ["d"])
    devr = run_one(
        ddf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%S%f",
    )
    assert devr.result["partial_unexpected_list"] == ["601"]

    zddf = spark.createDataFrame([("+12:30451",), ("+12:30:451",)], ["d"])
    zdevr = run_one(
        zddf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%z%f",
    )
    # '+12:30:451' takes z='+12:30:45', f='1' — consistent colons, parses
    assert zdevr.result["partial_unexpected_list"] == ["+12:30451"]


def test_strftime_week_derived_dates(spark):
    # week-of-year + weekday formats: strptime computes the date from
    # (year, week, weekday) and OVERWRITES found month/day — Feb 30 parses
    # when %U+%w are present — with week-0 rollback into the prior year and
    # date-range failures only at the year-1 / year-9999 boundaries
    df = spark.createDataFrame([("02-30 10 3",), ("02-30 10 9",)], ["d"])
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%m-%d %U %w",
    )
    # calendar check must NOT fire (date comes from the week); %w=9 is a
    # regex-shape failure
    assert evr.result["partial_unexpected_list"] == ["02-30 10 9"]

    bdf = spark.createDataFrame(
        [
            ("1900 53 6",),  # week 53 rolls into 1901 — fine
            ("1900 00 0",),  # week 0 rollback into 1899 — fine
            ("0001 00 0",),  # rollback into year 0 — date() raises
            ("0001 00 6",),  # week 0 but lands Jan 6 — fine
            ("9999 52 5",),  # 9999-12-31 exactly — fine
            ("9999 52 6",),  # one past date.max — fromordinal raises
        ],
        ["d"],
    )
    bevr = run_one(
        bdf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y %U %w",
    )
    assert sorted(bevr.result["partial_unexpected_list"]) == [
        "0001 00 0", "9999 52 6",
    ]

    # %W (Monday-start) with a named weekday, any case
    ndf = spark.createDataFrame([("2024 10 Sun",), ("2024 10 sun",)], ["d"])
    nevr = run_one(
        ndf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Y %W %a",
    )
    assert nevr.result["unexpected_count"] == 0

    # %Z matches the locale timezone-name set ({utc, gmt, tzname}) case-
    # insensitively and attaches nothing — names outside the set fail.
    # The accepted/rejected split is TZ-dependent (a host with TZ=EST5EDT
    # admits 'EST'), so derive it from strptime itself, the oracle
    import datetime as _dt

    probes = {"UTC", "utc", "GMT", "EST", "PST"}
    accepted, rejected = set(), set()
    for v in probes:
        try:
            _dt.datetime.strptime(v, "%Z")
            accepted.add(v)
        except ValueError:
            rejected.add(v)
    assert "UTC" in accepted and rejected  # sanity: split is non-trivial
    zdf = spark.createDataFrame([(v,) for v in sorted(probes)], ["d"])
    zevr = run_one(
        zdf,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%Z",
    )
    assert sorted(zevr.result["partial_unexpected_list"]) == sorted(rejected)


def test_seq_re_matches_cpython_seq_to_re():
    """A name list's alternation equals CPython's TimeRE.__seqToRE, whose
    empty name (e.g. an empty tzname[1]) stays an empty alternative, so %Z
    can match an empty zone name; an all-empty list has no alternation."""
    import _strptime

    from great_expectations_spark.operators.conditions import _seq_re

    time_re = _strptime.TimeRE()
    for seq in (
        ["utc", "gmt", "est", ""],
        ["utc", "gmt", "est"],
        ["", "utc", ""],
        ["a.m.", "p.m."],
        ["july", "jul", "june"],
        ["", ""],
        [],
    ):
        cpython = time_re._TimeRE__seqToRE(seq, "Z")
        if cpython:
            assert cpython.startswith("(?P<Z>") and cpython.endswith(")")
            cpython = cpython[len("(?P<Z>"):-1]
        assert _seq_re(seq) == cpython, seq


def test_catch_exceptions_false_raises(spark):
    # reference validator.py:956-1004: catch_exceptions=True (default)
    # captures failures as exception EVRs; False re-raises and aborts —
    # both a compile-time failure (unknown type) and a decide-time one
    # (query expectation over a missing column) must propagate
    from great_expectations_spark import SparkValidationEngine

    df = spark.createDataFrame([(1,), (2,)], ["i"])
    eng = SparkValidationEngine(spark)

    suite = ExpectationSuite("bad-type")
    suite.add("expect_totally_unknown_thing", column="i")
    res = eng.validate(df, suite)  # default True: exception EVR, no raise
    assert res.results[0].exception_info["raised_exception"]
    with pytest.raises(KeyError):
        eng.validate(df, suite, catch_exceptions=False)

    mixed = ExpectationSuite("mixed")
    mixed.add("expect_column_values_to_not_be_null", column="i")
    mixed.add("expect_column_values_to_be_between", column="missing_col",
              min_value=0, max_value=1)
    ok = eng.validate(df, mixed)  # default: good EVR + exception EVR
    assert len(ok.results) == 2
    with pytest.raises(Exception):
        eng.validate(df, mixed, catch_exceptions=False)


def test_phase23_failure_contract(spark, monkeypatch):
    # a groupBy/samples-phase failure must honor the same contract as the
    # bundled passes: exception EVR on the offender with the rest still
    # validated (catch_exceptions=True), re-raise with the persist released
    # (False) — never an unhandled escape from validate()
    from great_expectations_spark import SparkValidationEngine
    from great_expectations_spark.plans import planner as planner_mod

    df = spark.createDataFrame([(1,), (2,), (2,)], ["i"])
    suite = ExpectationSuite("p2")
    suite.add("expect_column_values_to_not_be_null", column="i")
    suite.add(
        "expect_column_most_common_value_to_be_in_set", column="i",
        value_set=[2],
    )

    def boom(self, df, need):
        raise RuntimeError("groupBy pass exploded")

    monkeypatch.setattr(planner_mod.SuitePlanner, "_run_groupby", boom)
    eng = SparkValidationEngine(spark)

    res = eng.validate(df, suite, persist=True)
    by_type = {
        r.expectation_config["expectation_type"]: r for r in res.results
    }
    assert by_type["expect_column_values_to_not_be_null"].success is True
    mc = by_type["expect_column_most_common_value_to_be_in_set"]
    assert "groupBy pass exploded" in (mc.exception_info or {}).get(
        "exception_message", ""
    )

    # the persist must be released on the re-raise path too — compare
    # against the session's pre-existing persist count (other tests in a
    # shared session legitimately hold caches)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError):
        eng.validate(df, suite, persist=True, catch_exceptions=False)
    assert jsc.getPersistentRDDs().size() == before


def test_experimental_row_condition_grammar(spark):
    # the reference's mini-DSL (row_conditions.py:35-146) PREFIX-parses:
    # 'col("i") > 5 AND ...' silently drops everything after the first
    # condition; != is not in the grammar (exception EVR); string literals
    # allow only ==; .notnull() is caseless; unrecognized parsers raise
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else None) for i in range(10)], ["i", "s"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_not_be_null",
        column="s",
        row_condition='col("i") > 5 AND col("i") < 2',
        condition_parser="great_expectations__experimental__",
    )
    # domain is i>5 (4 rows; the AND clause is ignored), nulls at 6 and 8
    assert evr.result["element_count"] == 4
    assert evr.result["unexpected_count"] == 2

    bang = run_one(
        df,
        "expect_column_values_to_not_be_null",
        column="s",
        row_condition='col("i") != 5',
        condition_parser="great_expectations__experimental__",
    )
    assert "unable to parse condition" in (bang.exception_info or {}).get(
        "exception_message", ""
    )

    strop = run_one(
        df,
        "expect_column_values_to_not_be_null",
        column="s",
        row_condition='col("s") > "a"',
        condition_parser="great_expectations__experimental__",
    )
    assert "Invalid operator" in (strop.exception_info or {}).get(
        "exception_message", ""
    )

    unrec = run_one(
        df,
        "expect_column_values_to_not_be_null",
        column="s",
        row_condition="i > 5",
        condition_parser="pandas",
    )
    assert "unrecognized condition_parser" in (unrec.exception_info or {}).get(
        "exception_message", ""
    )

    caseless = run_one(
        df,
        "expect_column_values_to_be_between",
        column="i",
        min_value=0,
        max_value=100,
        row_condition='col("s").NotNull()',
        condition_parser="great_expectations__experimental__",
    )
    assert caseless.success is True
    assert caseless.result["element_count"] == 5


@pytest.mark.parametrize("parser", [None, "spark_sql", "spark"])
def test_spark_sql_parser_aliases(spark, parser):
    # deliberate divergence (translate_row_condition): a missing parser and
    # "spark_sql" filter as raw Spark SQL, like "spark", where the reference
    # raises for them; the AND clause the mini-DSL would drop is applied
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else None) for i in range(10)], ["i", "s"]
    )
    evr = run_one(
        df,
        "expect_column_values_to_not_be_null",
        column="s",
        row_condition="i > 5 AND s IS NULL",
        condition_parser=parser,
    )
    assert not evr.exception_info or not evr.exception_info.get("raised_exception")
    # domain is i in {6, 8}: both rows null
    assert evr.result["element_count"] == 2
    assert evr.result["unexpected_count"] == 2


def test_experimental_grammar_differential_vs_pyparsing(spark):
    # transliteration guard: the engine's _DSL_RE against the reference's
    # ACTUAL pyparsing grammar, rebuilt verbatim from row_conditions.py —
    # parse outcomes (kind, column, op, coerced value / error class) must
    # agree on thousands of randomized inputs including the quirky ones
    pytest.importorskip("pyparsing")
    import warnings

    warnings.filterwarnings("ignore")  # pyparsing camelCase deprecations
    from pyparsing import (
        CaselessLiteral, Combine, Literal, ParseException, Regex, Suppress,
        Word, alphanums, alphas,
    )
    from great_expectations_spark.operators.conditions import _DSL_RE

    def _set_notnull(s, l, t):
        t["notnull"] = True

    column_name = Combine(
        Suppress(Literal('col("'))
        + Word(alphas, f"{alphanums}_.").setResultsName("column")
        + Suppress(Literal('")'))
    )
    ops = (
        Literal(">") ^ Literal("<") ^ Literal(">=") ^ Literal("<=")
        ^ Literal("==")
    ).setResultsName("op")
    fnumber = Regex(r"[+-]?\d+(?:\.\d*)?(?:[eE][+-]?\d+)?").setResultsName(
        "fnumber"
    )
    condition_value = Suppress('"') + Word(
        f"{alphanums}._"
    ).setResultsName("condition_value") + Suppress('"') ^ Suppress(
        "'"
    ) + Word(f"{alphanums}._").setResultsName("condition_value") + Suppress("'")
    not_null = CaselessLiteral(".notnull()").setResultsName("notnull")
    condition = (column_name + not_null).setParseAction(_set_notnull) ^ (
        column_name + ops + (fnumber ^ condition_value)
    )

    def ref_parse(s):
        try:
            p = condition.parseString(s)
        except ParseException:
            return ("ERR", "unable to parse")
        if "condition_value" in p:
            if p["op"] == "==":
                return ("STR", p["column"], p["condition_value"])
            return ("ERR", "invalid op for string")
        if "fnumber" in p:
            try:
                num = int(p["fnumber"])
            except ValueError:
                num = float(p["fnumber"])
            return ("NUM", p["column"], p["op"], num)
        if "notnull" in p and p["notnull"] is True:
            return ("NOTNULL", p["column"])
        return ("ERR", "unrecognized")

    def mine_parse(s):
        m = _DSL_RE.match(s)
        if m is None or not s.lstrip().startswith('col("'):
            return ("ERR", "unable to parse")
        if m.group("notnull"):
            return ("NOTNULL", m.group("column"))
        op = m.group("op")
        sval = m.group("dq") or m.group("sq")
        if sval is not None:
            if op != "==":
                return ("ERR", "invalid op for string")
            return ("STR", m.group("column"), sval)
        raw = m.group("fnumber")
        try:
            num = int(raw)
        except ValueError:
            num = float(raw)
        return ("NUM", m.group("column"), op, num)

    import random as _random

    rng = _random.Random(99)
    # pyparsing's skip set is exactly " \n\t\r": \r is accepted between and
    # inside-quotes; \x0b/\x0c/NBSP/thin-space are rejected even though
    # regex \s (or str.strip) would take them
    cases = [
        'col("a") == " x "', 'col("a") == "x \n\t"', 'col("a") == " x\r "',
        'col("a") >\r3', 'col("a") >\x0c3', 'col("a") >\x0b3',
        'col("a") >\xa03', 'col("a") > 3', '\x0ccol("a") > 3',
        '\rcol("a") > 3', 'col("a") == "\x0cx"',
    ]
    for _ in range(4000):
        pre = rng.choice(
            ['col("', 'col("', 'col("', 'COL("', 'col( "', ' col("']
        )
        name = rng.choice(["a", "a.b", "_x", "9y", "ab_c", "A", "x2.y_3"])
        tail = rng.choice(['") ', '")', '" )', '")  '])
        op = rng.choice(
            [">", "<", ">=", "<=", "==", "!=", "=", "===", ".notnull()",
             ".NOTNULL()", " .notnull()", ".isNull()"]
        )
        val = rng.choice(
            ["3", "3.5", "-2e3", "+7.", '"x"', "'y'", '"x y"', '""', "3abc",
             '"x"extra', " 3", "", '" z "', "' q.r '", '"3.5"']
        )
        s = (
            pre + name + tail
            + (op if ".n" in op.lower() or ".is" in op.lower()
               else op + rng.choice([" ", "", "\r", "\x0c", "\xa0"]) + val)
            + rng.choice(["", " trailing", ' AND col("b")>1'])
        )
        cases.append(s)
    diverged = [
        s for s in cases if ref_parse(s) != mine_parse(s)
    ]
    assert diverged == []


def test_strftime_iso_directives(spark):
    # %G+%V+weekday: strptime derives the date via _calc_julian_from_V —
    # verdicts must match strptime exactly, including the year-boundary
    # failures and the week-53 silent rollover
    import datetime as _dt

    vals = [
        "2024 01 1",   # 2024-01-01 (ISO week 1 Monday)
        "2024 53 1",   # 52-week ISO year: rolls into 2025 silently
        "0001 01 1",   # valid start-of-calendar
        "0001 00 1",   # rollback needs year 0: fails
        "0000 01 1",   # date(0,1,4) inside the correction: fails
        "9999 52 5",   # ok
        "9999 52 7",   # past 9999-12-31: fails
    ]
    expected_bad = []
    for v in vals:
        try:
            _dt.datetime.strptime(v, "%G %V %u")
        except ValueError:
            expected_bad.append(v)
    df = spark.createDataFrame([(v,) for v in vals], ["d"])
    evr = run_one(
        df,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%G %V %u",
    )
    assert sorted(evr.result["partial_unexpected_list"]) == sorted(expected_bad)
    assert "0001 00 1" in expected_bad and "9999 52 7" in expected_bad

    # invalid ISO combinations raise (the reference's _spark setup
    # round-trip turns them into exception EVRs): %G without %V+weekday,
    # %V without %G/%U/%W, %G with %j
    for bad_fmt in ("%G", "%G %V", "%G %u", "%V %u", "%Y %V %u",
                    "%G %V %u %j"):
        bevr = run_one(
            df,
            "expect_column_values_to_match_strftime_format",
            column="d",
            strftime_format=bad_fmt,
        )
        assert (bevr.exception_info or {}).get("raised_exception"), bad_fmt

    # %U/%W takes precedence over ISO in the julian computation when both
    # appear (strptime checks week_of_year first) — '%G %V %U %u' parses
    # with the U-week path and strptime's default year 1900
    combo = spark.createDataFrame([("2024 10 05 3",)], ["d"])
    cevr = run_one(
        combo,
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%G %V %U %u",
    )
    assert cevr.result["unexpected_count"] == 0


def test_dateutil_parseable_exact_kernel(spark):
    # the Arrow kernel IS dateutil.parser.parse (the reference's pandas
    # kernel, column_values_dateutil_parseable.py:14-28) — these values
    # split differently under any fixed to_timestamp pattern list:
    # free-form ctime strings, ordinal days, lone years, and day>12
    # month-swap all parse; calendar/range violations and junk fail
    df = spark.createDataFrame(
        [
            ("Sat Oct 11 17:13:46 2003",),  # ctime-ish: parses
            ("5th of March 2001",),         # ordinal prose: parses
            ("13/5/2016",),                 # day>12 swaps to May 13: parses
            ("2016-01-01",),
            ("garbage",),
            ("Feb 30 2020",),               # real calendar check: fails
            ("12:60",),                     # minute range: fails
            (None,),
        ],
        ["d"],
    )
    evr = run_one(
        df,
        "expect_column_values_to_be_dateutil_parseable",
        column="d",
    )
    assert evr.result["element_count"] == 8
    assert sorted(evr.result["partial_unexpected_list"]) == [
        "12:60", "Feb 30 2020", "garbage",
    ]

    # non-string columns raise the reference's TypeError (exception EVR)
    ints = spark.createDataFrame([(1,), (2,)], ["d"])
    bad = run_one(
        ints, "expect_column_values_to_be_dateutil_parseable", column="d"
    )
    assert bad.success is False
    assert "must be of type string" in (bad.exception_info or {}).get(
        "exception_message", ""
    )


def test_strftime_composites_and_month_precedence(spark):
    # %x expands to the locale composite (%m/%d/%y in C locale) while '%%x'
    # stays a literal '%x' (the splice reprocesses in place, never a
    # textual pre-replace); when %m and %B both set the month, the LAST
    # directive in the format wins, exactly as strptime's found_dict
    # iteration does
    evr = run_one(
        spark.createDataFrame(
            [("08/16/88",), ("8/6/88",), ("02/29/01",), ("%x",)], ["d"]
        ),
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%x",
    )
    assert evr.result["unexpected_count"] == 2
    assert sorted(evr.result["partial_unexpected_list"]) == ["%x", "02/29/01"]

    evr2 = run_one(
        spark.createDataFrame([("%x",), ("08/16/88",)], ["d"]),
        "expect_column_values_to_match_strftime_format",
        column="d",
        strftime_format="%%x",
    )
    assert evr2.result["partial_unexpected_list"] == ["08/16/88"]

    # B after m: February overrides month 4, then day 30 invalidates
    evr3 = run_one(
        spark.createDataFrame(
            [("4|February|30",), ("February|4|30",)], ["a"]
        ),
        "expect_column_values_to_match_strftime_format",
        column="a",
        strftime_format="%m|%B|%d",
    )
    assert evr3.result["partial_unexpected_list"] == ["4|February|30", "February|4|30"]
    evr4 = run_one(
        spark.createDataFrame([("February|4|30",)], ["a"]),
        "expect_column_values_to_match_strftime_format",
        column="a",
        strftime_format="%B|%m|%d",
    )
    # m wins here: April 30 is valid
    assert evr4.result["unexpected_count"] == 0


def test_json_parseable(spark):
    df = spark.createDataFrame(
        [('{"a": 1}',), ("[1,2,3]",), ("{oops",), (None,)], ["j"]
    )
    evr = run_one(
        df, "expect_column_values_to_be_json_parseable", column="j"
    )
    assert evr.result["unexpected_count"] == 1
    assert evr.result["missing_count"] == 1


def test_json_parseable_stdlib_semantics(spark):
    # the engine's verdict IS stdlib json.loads (the reference's per-row
    # implementation): the non-standard literals and duplicate keys parse,
    # trailing garbage does not — a native try_parse_json gets all five of
    # these wrong (see _json_parseable_builder's docstring)
    df = spark.createDataFrame(
        [("NaN",), ('{"a": Infinity}',), ('{"a":1,"a":2}',),
         ("1 2",), ("[1]extra",)], ["j"]
    )
    evr = run_one(
        df, "expect_column_values_to_be_json_parseable", column="j"
    )
    assert evr.result["unexpected_count"] == 2
    assert sorted(evr.result["partial_unexpected_list"]) == ["1 2", "[1]extra"]


def test_row_condition_domain(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_be_between",
        column="x",
        min_value=1,
        max_value=2,
        row_condition="y > 2.0",
        condition_parser="spark",
    )
    r = evr.result
    # domain: rows with y>2.0 → x in {2,4,4}; the two 4s are outside [1,2]
    assert r["element_count"] == 3
    assert r["unexpected_count"] == 2
    assert sorted(r["unexpected_list"]) == [4, 4]


def test_summary_partial_counts(golden):
    evr = run_one(
        golden,
        "expect_column_values_to_be_in_set",
        column="x",
        value_set=[1, 2],
        rf="SUMMARY",
    )
    counts = evr.result["partial_unexpected_counts"]
    assert counts[0] == {"value": 4, "count": 2}
    assert counts[1] == {"value": 5, "count": 1}


def test_include_unexpected_rows(spark, lineitem):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import validate

    s = ExpectationSuite(name="iur")
    s.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=10)
    res = validate(
        lineitem,
        s,
        result_format={"result_format": "SUMMARY", "include_unexpected_rows": True,
                       "partial_unexpected_count": 5},
    )
    r = res.results[0].result
    assert len(r["unexpected_rows"]) == 5
    row = r["unexpected_rows"][0]
    assert set(lineitem.columns) <= set(row)
    assert row["l_quantity"] > 10


def test_include_unexpected_rows_skipped_when_passing(spark, lineitem):
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.engine import validate

    s = ExpectationSuite(name="iur2")
    s.add("expect_column_values_to_be_between", column="l_quantity", min_value=0, max_value=100)
    res = validate(
        lineitem, s,
        result_format={"result_format": "BASIC", "include_unexpected_rows": True},
    )
    assert "unexpected_rows" not in res.results[0].result
