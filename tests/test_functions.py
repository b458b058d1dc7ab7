"""Expression-level golden tests — vectors ported from the reference's
``tests/test_helpers.py`` (its only executable spec of P2-P9 semantics).
"""

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions import (
    business_seconds,
    business_seconds_pandas_udf,
    from_human_time,
    parse_tracker_datetime,
    string_normalize,
    timedelta_seconds,
    to_human_time,
    to_snake_case,
)
from yandex_tracker_exporter_spark.functions.changelog import (
    TEXT_TOO_LONG_SENTINEL,
    extract_changelog_value,
)


def _eval(spark, col, rows=None, schema="value string"):
    df = spark.createDataFrame(rows or [(None,)], schema)
    return [r[0] for r in df.select(col).collect()]


# --- P2 to_snake_case: the reference's 22-case table (test_helpers.py:138-166)
SNAKE_CASES = [
    ("русскаястрока", "русскаястрока"),
    ("РусскийВерблюд", "русский_верблюд"),
    ("русскийВерблюд2", "русский_верблюд_2"),
    ("Русские пробелы", "русские_пробелы"),
    ("русский-кебаб", "русский_кебаб"),
    ("РУССКИЕ_БОЛЬШИЕ", "русские_большие"),
    ("русская_змея", "русская_змея"),
    ("РусскийДлинныйВерблюдПлюсЧисло1", "русский_длинный_верблюд_плюс_число_1"),
    ("singlestring", "singlestring"),
    ("camelCase", "camel_case"),
    ("longCamelCase", "long_camel_case"),
    ("longCamelCaseWithNumber1", "long_camel_case_with_number_1"),
    ("PascalCase", "pascal_case"),
    ("LongPascalCase", "long_pascal_case"),
    ("LongPascalCaseWithNumber1", "long_pascal_case_with_number_1"),
    ("snake_case", "snake_case"),
    ("kebab-case", "kebab_case"),
    ("CONSTANT_CASE", "constant_case"),
    (
        "camelCase-kebab_snakePascalCaseCONSTANT_case",
        "camel_case_kebab_snake_pascal_case_constant_case",
    ),
    ("separated string case", "separated_string_case"),
    (None, None),
    (" ", ""),
]


def test_to_snake_case(spark):
    rows = [(t,) for t, _ in SNAKE_CASES]
    got = _eval(spark, to_snake_case(F.col("value")), rows)
    expected = [e for _, e in SNAKE_CASES]
    assert got == expected


# --- P3 string_normalize (test_helpers.py:235-243)
def test_string_normalize(spark):
    rows = [("normalized",), ("emoji\U0001f60e",), ("mid\U0001f680dle",)]
    got = _eval(spark, string_normalize(F.col("value")), rows)
    assert got == ["normalized", "emoji", "middle"]


# --- P4 convert_datetime (test_helpers.py:169-199) — engine-side the
# parse returns TimestampType; formatting checks the same instants.
def test_parse_tracker_datetime(spark):
    rows = [
        ("2023-01-01T10:00:00.123+0300",),
        ("2023-01-01T10:00:00.123+0000",),
        ("2023-01-01T10:00:00.123456+0000",),
        ("2023-01-01T10:00:00",),  # naive → UTC
        # literal 'Z' and colon offsets — Python's %z (the reference
        # parser) accepts both, so the Spark chain must too
        ("2023-01-01T10:00:00.123Z",),
        ("2023-01-01T10:00:00Z",),
        ("2023-01-01T10:00:00+03:00",),
        ("2023-01-01T10:00:00.123456Z",),
        (None,),
    ]
    col = F.date_format(
        parse_tracker_datetime(F.col("value")), "yyyy-MM-dd'T'HH:mm:ss.SSS"
    )
    got = _eval(spark, col, rows)
    assert got == [
        "2023-01-01T07:00:00.123",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.000",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.000",
        "2023-01-01T07:00:00.000",
        "2023-01-01T10:00:00.123",
        None,
    ]


def test_parse_tracker_datetime_tz_display(spark):
    # UTC instant rendered in Europe/Moscow — the reference's tz branch.
    rows = [("2023-01-01T10:00:00.123+0000",)]
    col = F.date_format(
        F.convert_timezone(
            F.lit("UTC"), F.lit("Europe/Moscow"), parse_tracker_datetime(F.col("value"))
        ),
        "yyyy-MM-dd'T'HH:mm:ss.SSS",
    )
    assert _eval(spark, col, rows) == ["2023-01-01T13:00:00.123"]


def test_format_display_datetime_reference_vectors(spark):
    """P4 second half — the reference's own convert_datetime vectors
    (tests/test_helpers.py:169-199): parse → UTC → display tz → string.
    The reference's date_only output for 2023-01-01 UTC is '2023-01-01'
    only by coincidence of day==01: its format string is '%Y-%d-%m'
    (day/month swapped, helpers.py:142). We assert the NON-buggy ISO
    rendering, including a date where the swap would show."""
    from yandex_tracker_exporter_spark.functions.datetimes import (
        format_display_datetime,
    )

    cases = [
        # (input, tz, date_only, expected)
        ("2023-01-01T10:00:00.123+0000", "UTC", True, "2023-01-01"),
        ("2023-01-01T10:00:00.123+0300", "UTC", False, "2023-01-01T07:00:00.123"),
        ("2023-01-01T10:00:00.123+0000", "Europe/Moscow", False,
         "2023-01-01T13:00:00.123"),
        (None, "UTC", False, None),
        # date_only where %Y-%d-%m would yield 2023-05-03 instead
        ("2023-03-05T10:00:00.123+0000", "UTC", True, "2023-03-05"),
        # tz shift that crosses midnight moves the DATE too
        ("2023-03-05T22:30:00.000+0000", "Europe/Moscow", True, "2023-03-06"),
    ]
    for value, tz, date_only, expected in cases:
        col = format_display_datetime(
            parse_tracker_datetime(F.col("value")), tz, date_only=date_only
        )
        assert _eval(spark, col, [(value,)]) == [expected], (value, tz, date_only)


def test_format_for_display_export_edge(spark):
    """format_for_display applies EngineConfig.timezone to every
    timestamp/date column at the export edge; storage stays UTC."""
    import datetime as dt

    from yandex_tracker_exporter_spark.config import EngineConfig
    from yandex_tracker_exporter_spark.sources.clickhouse_compat import (
        format_for_display,
    )

    df = spark.createDataFrame(
        [("A", dt.datetime(2023, 1, 1, 10, 0, 0), dt.date(2023, 6, 1))],
        "k string, updated_at timestamp, deadline date",
    )
    out = format_for_display(df, EngineConfig()).collect()[0]
    assert out.updated_at == "2023-01-01T13:00:00.000"  # Moscow default
    assert out.deadline == "2023-06-01"  # ISO, not %Y-%d-%m
    utc = format_for_display(df, EngineConfig(timezone="UTC")).collect()[0]
    assert utc.updated_at == "2023-01-01T10:00:00.000"


# --- P5 get_timedelta (test_helpers.py:19-47)
def test_timedelta_seconds(spark):
    rows = [("2023-01-01 10:01:00", "2023-01-01 10:00:00")]
    df = spark.createDataFrame(rows, "end string, start string")
    got = df.select(
        timedelta_seconds(
            F.col("end").cast("timestamp"), F.col("start").cast("timestamp")
        )
    ).collect()[0][0]
    assert got == 60


# --- P6 calculate_time_spent (test_helpers.py:50-86)
BUSINESS_CASES = [
    # Sunday 30 min → 0 business seconds
    ("2023-01-01 10:00:00", "2023-01-01 10:30:00", 0),
    # Monday 10:00→23:00 with 09-22 window → 12h
    ("2023-10-16 10:00:00", "2023-10-16 23:00:00", 12 * 3600),
    # reversed interval → abs semantics
    ("2023-10-16 23:00:00", "2023-10-16 10:00:00", 12 * 3600),
    # full week Mon..Sun → 5 workdays × 13h
    ("2023-10-16 00:00:00", "2023-10-22 23:59:59", 5 * 13 * 3600),
]


@pytest.mark.parametrize("impl", ["expr", "pandas"])
def test_business_seconds(spark, impl):
    rows = [(s, e) for s, e, _ in BUSINESS_CASES]
    df = spark.createDataFrame(rows, "start string, end string").select(
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    if impl == "expr":
        col = business_seconds("start", "end")
    else:
        col = business_seconds_pandas_udf()("start", "end")
    got = [r[0] for r in df.select(col).collect()]
    assert got == [e for _, _, e in BUSINESS_CASES]


def test_business_seconds_four_year_span(spark):
    """The closed-form expression has no span cap: a 4-year interval
    (which the round-2 sequence() expansion nulled out) must equal the
    day-walking reference semantics (businesstimedelta over 09-22
    Mon-Fri, reference helpers.py:40-73), including interior holidays."""
    import datetime as dt

    start = dt.datetime(2020, 2, 14, 10, 0, 0)  # Friday
    end = dt.datetime(2024, 3, 18, 20, 30, 0)  # Monday
    holidays = ("2022-06-13", "2022-06-12")  # a Monday and a Sunday

    def day_walk(s, e, workdays={0, 1, 2, 3, 4}, hs=9, he=22, hol=()):
        hol = {dt.date.fromisoformat(h) for h in hol}
        total = 0
        day = s.date()
        while day <= e.date():
            if day.weekday() in workdays and day not in hol:
                ws = dt.datetime.combine(day, dt.time(hs))
                we = dt.datetime.combine(day, dt.time(he))
                total += max(0, int((min(e, we) - max(s, ws)).total_seconds()))
            day += dt.timedelta(days=1)
        return total

    expected = day_walk(start, end, hol=holidays)
    df = spark.createDataFrame([(start, end)], "start timestamp, end timestamp")
    got = df.select(
        business_seconds("start", "end", holiday_dates=holidays)
    ).collect()[0][0]
    assert got == expected
    assert got is not None and got > 3 * 365 * 0.7 * 13 * 3600  # sanity: non-null, plausible


def test_business_seconds_holiday(spark):
    # Mon 2023-10-16 marked as holiday → 0
    df = spark.createDataFrame(
        [("2023-10-16 10:00:00", "2023-10-16 23:00:00")], "start string, end string"
    ).select(
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    col = business_seconds("start", "end", holiday_dates=("2023-10-16",))
    assert df.select(col).collect()[0][0] == 0


def test_business_seconds_matches_pandas_udf_reference(spark):
    """The closed-form SQL expression must equal the day-walking
    pandas UDF on every shape — reversed, weekend-only, multi-year
    spans, holidays incl. a weekend holiday, hour-boundary grazing —
    and on non-default workday/hour configs. All-integer arithmetic,
    so equality is exact. NULL rows are pinned as literals: least/
    greatest skip NULLs, so a one-sided NULL interval counts 0 seconds
    (the UDF gives NULL there); both-NULL gives NULL."""
    import datetime as dt

    rows = [
        (dt.datetime(2023, 10, 16, 10, 0), dt.datetime(2023, 10, 16, 23, 0)),
        (dt.datetime(2023, 10, 16, 23, 0), dt.datetime(2023, 10, 16, 10, 0)),
        (dt.datetime(2023, 10, 21, 0, 0), dt.datetime(2023, 10, 22, 23, 59)),
        (dt.datetime(2020, 2, 14, 10, 0), dt.datetime(2024, 3, 18, 20, 30)),
        (dt.datetime(2023, 10, 16, 9, 0), dt.datetime(2023, 10, 16, 9, 0)),
        (dt.datetime(2023, 10, 16, 0, 0), dt.datetime(2023, 10, 16, 9, 0)),
        (dt.datetime(2023, 10, 16, 22, 0), dt.datetime(2023, 10, 17, 9, 0)),
        (dt.datetime(2022, 6, 10, 21, 59), dt.datetime(2022, 6, 14, 9, 1)),
    ]
    null_rows = [
        (None, dt.datetime(2023, 10, 16, 12, 0)),
        (dt.datetime(2023, 10, 16, 12, 0), None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows + null_rows)],
        "i int, start timestamp, end timestamp",
    )
    configs = [
        dict(),
        dict(holiday_dates=("2022-06-13", "2022-06-12", "2023-10-16")),
        dict(workdays=(0, 2, 5), hour_start=7, hour_end=19),
        dict(workdays=(), holiday_dates=("2023-10-17",)),
    ]
    for kw in configs:
        out = df.orderBy("i").select(
            business_seconds("start", "end", **kw).alias("s"),
            business_seconds_pandas_udf(**kw)("start", "end").alias("u"),
        ).collect()
        for r in out[: len(rows)]:
            assert r.s == r.u, (kw, r)
            assert r.s is not None, (kw, r)
        assert [r.s for r in out[len(rows):]] == [0, 0, None], kw


# --- P7 to_human_time (test_helpers.py:207-218)
HUMAN_CASES = [
    (60, 2, "1m"),
    (300, 2, "5m"),
    (320, 2, "5m 20s"),
    (86700, 2, "1d 5m"),
    (3200400, 3, "1mo 1w 1h"),
    (0, 2, "0s"),
    (-320, 2, "-5m 20s"),
]


def test_to_human_time(spark):
    for seconds, verbosity, expected in HUMAN_CASES:
        df = spark.createDataFrame([(seconds,)], "value long")
        got = df.select(to_human_time(F.col("value"), verbosity)).collect()[0][0]
        assert got == expected, f"{seconds} v{verbosity}"


# --- P8 from_human_time (test_helpers.py:221-232)
@pytest.mark.parametrize(
    "timestr, expected",
    [("1m", 60), ("5m", 300), ("5m 20s", 320), ("1d 5m", 86700), ("1mo 1w 1h", 3200400)],
)
def test_from_human_time(timestr, expected):
    assert from_human_time(timestr) == expected


def test_from_human_time_invalid():
    with pytest.raises(ValueError):
        from_human_time("1x")


# --- P9 extract_changelog_value (helpers.py:261-298 semantics over
# JSON-encoded variants)
def test_extract_changelog_value(spark):
    long_text = "x" * 150
    rows = [
        ('"short text"', "short text"),
        (f'"{long_text}"', TEXT_TOO_LONG_SENTINEL),
        ('"2023-01-01T10:00:00.123+0300"', "2023-01-01T07:00:00.123"),
        (None, ""),
        ("null", ""),
        ("42", "42"),
        ("3.14", "3.14"),
        ('{"key": "TEST-1", "name": "Test"}', "TEST-1"),
        ('{"email": "User@Example.com"}', "user@example.com"),
        ('{"name": "Sprint 1"}', "Sprint 1"),
        ('{"id": "123"}', "123"),
        ('{"other": 1}', '{"other": 1}'),
        ('["a", "b"]', "a, b"),
    ]
    got = _eval(spark, extract_changelog_value(F.col("value")), [(r[0],) for r in rows])
    assert got == [r[1] for r in rows]


def test_chunk_tokens_boundaries(spark):
    """Chunk arithmetic: short docs yield one chunk; long docs overlap
    by exactly `overlap` tokens; no empty chunks ever."""
    import pytest as _pytest

    from yandex_tracker_exporter_spark.operators.text_analysis import chunk_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # < chunk_size
            (2, " ".join(f"t{i}" for i in range(40))),   # 2 chunks
            (3, " ".join(f"t{i}" for i in range(100))),  # 4 chunks
        ],
        "doc_id long, text string",
    )
    rows = chunk_tokens(docs, chunk_size=32, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 10
    assert len(by_doc[2]) == 2
    chunks2 = sorted(by_doc[2], key=lambda r: r.chunk_idx)
    # stride 24: chunk 1 starts at token 24 -> 8-token overlap
    assert chunks2[0].chunk_text.split()[24:] == chunks2[1].chunk_text.split()[:8]
    assert len(by_doc[3]) == 4
    assert all(r.n_chunk_tokens > 0 for r in rows)

    with _pytest.raises(ValueError, match="overlap"):
        chunk_tokens(docs, chunk_size=8, overlap=8)


def test_redact_pii_counts_and_placeholders(spark):
    from yandex_tracker_exporter_spark.operators.text_analysis import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org, call +1 555-000-1234 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].n_emails == 2 and got[1].n_phones == 1
    assert got[1].redacted == "mail <EMAIL> and <EMAIL>, call <PHONE> now"
    assert got[2].n_emails == 0 and got[2].n_phones == 0
    assert got[2].redacted == "no pii here"


# --- P14 bytes_to_human (reference helpers.py:301-320)
def test_bytes_to_human(spark):
    from yandex_tracker_exporter_spark.functions.datetimes import bytes_to_human

    def reference_impl(data, granularity=2):
        # verbatim re-derivation of the reference's python (helpers.py:301-320)
        _bytes = int(data)
        result = []
        sizes = (("TB", 1024**4), ("GB", 1024**3), ("MB", 1024**2),
                 ("KB", 1024), ("B", 1))
        if _bytes == 0:
            return "0"  # reference returns int 0; string form here
        for name, count in sizes:
            value = _bytes // count
            if value:
                _bytes -= value * count
                result.append(f"{value}{name}")
        return ", ".join(result[:granularity])

    samples = [0, 1, 999, 1024, 1536, 10**6, 1024**2, 5 * 1024**3 + 3 * 1024,
               1024**4 + 1024**3 + 7]
    df = spark.createDataFrame([(s,) for s in samples], "b long")
    got = [r[0] for r in df.select(bytes_to_human("b")).collect()]
    assert got == [reference_impl(s) for s in samples]
    got3 = [r[0] for r in df.select(bytes_to_human("b", granularity=3)).collect()]
    assert got3 == [reference_impl(s, 3) for s in samples]


class TestCanonicalizeText:
    def test_rules(self, spark):
        from yandex_tracker_exporter_spark.functions.text import (
            canonicalize_text,
        )
        from pyspark.sql import functions as F

        rows = [
            (1, "  Hello   WORLD  "),
            (2, "Café crème à Zürich"),
            (3, "tabs\tand\nnewlines"),
            (4, "already clean"),
        ]
        df = spark.createDataFrame(rows, "id long, t string")
        got = {r.id: r.c for r in df.select(
            "id", canonicalize_text("t").alias("c")
        ).collect()}
        assert got[1] == "hello world"
        assert got[2] == "cafe creme a zurich"
        assert got[3] == "tabs and newlines"
        assert got[4] == "already clean"

    def test_case_accent_spacing_variants_converge(self, spark):
        from yandex_tracker_exporter_spark.functions.text import (
            canonicalize_text,
        )

        variants = ["résumé  review", "RESUME REVIEW", " resume\treview "]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(variants)], "id long, t string"
        )
        canon = {r[0] for r in df.select(canonicalize_text("t")).collect()}
        assert canon == {"resume review"}
