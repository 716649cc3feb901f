"""Property-based transform tests (SURVEY §5.2 strategy 3): every
configured date format round-trips, the boolean truthy/falsy table holds
under case/whitespace noise, and casts never throw on arbitrary input.

Each hypothesis example carries a LIST of values through ONE Spark job
(batching keeps the suite fast); deadline is disabled because Spark job
latency is unrelated to input size.
"""

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.config.defaults import (
    DEFAULT_DATE_FORMATS,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.functions.casts import (
    FALSY,
    TRUTHY,
    build_cast,
    multi_format_date,
    multi_format_timestamp,
    normalize_boolean,
)

# formats whose rendering is unambiguous enough to round-trip exactly:
# everything configured; tz-aware renders with an explicit offset.
_SETTINGS = dict(max_examples=12, deadline=None)

_dates = st.datetimes(
    min_value=datetime(1905, 1, 1),
    max_value=datetime(2099, 12, 28),
).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000))


def _render(dt: datetime, fmt: str) -> str:
    if "%z" in fmt:
        dt = dt.replace(tzinfo=timezone(timedelta(hours=(dt.hour % 13) - 6)))
    if fmt == "%Y-%m-%dT%H:%M:%S.%fZ":
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.strftime(fmt)


@settings(**_SETTINGS)
@given(st.lists(st.tuples(_dates, st.sampled_from(DEFAULT_DATE_FORMATS)),
                min_size=1, max_size=24))
def test_every_configured_format_parses_to_its_own_date(spark, pairs):
    rows = []
    for i, (dt, fmt) in enumerate(pairs):
        rendered = _render(dt, fmt)
        parsed = datetime.strptime(rendered, fmt)
        if parsed.tzinfo is not None:
            parsed = parsed.astimezone(timezone.utc)
        rows.append((i, rendered, parsed.date().isoformat()))
    df = spark.createDataFrame(rows, "idx int, raw string, want string")
    got = (
        df.select("idx", "want",
                  F.date_format(F.expr(multi_format_date("raw")), "yyyy-MM-dd")
                  .alias("got"))
        .collect()
    )
    for r in got:
        assert r["got"] == r["want"], r


@settings(**_SETTINGS)
@given(st.lists(st.tuples(_dates, st.sampled_from(DEFAULT_DATE_FORMATS)),
                min_size=1, max_size=24))
def test_timestamp_parse_matches_python_strptime(spark, pairs):
    rows = []
    for i, (dt, fmt) in enumerate(pairs):
        rendered = _render(dt, fmt)
        parsed = datetime.strptime(rendered, fmt)
        if parsed.tzinfo is not None:
            parsed = parsed.astimezone(timezone.utc).replace(tzinfo=None)
        rows.append((i, rendered, parsed.strftime("%Y-%m-%d %H:%M:%S")))
    df = spark.createDataFrame(rows, "idx int, raw string, want string")
    got = (
        df.select("idx", "want",
                  F.date_format(F.expr(multi_format_timestamp("raw")),
                                "yyyy-MM-dd HH:mm:ss").alias("got"))
        .collect()
    )
    for r in got:
        assert r["got"] == r["want"], r


_noise = st.sampled_from(["", " ", "  ", "\t"])


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.sampled_from(TRUTHY + FALSY),
              st.sampled_from(["lower", "upper", "title"]), _noise, _noise),
    min_size=1, max_size=30,
))
def test_boolean_table_under_case_and_whitespace(spark, cases):
    rows = []
    for i, (tok, casing, pre, post) in enumerate(cases):
        want = tok in TRUTHY
        s = getattr(tok, casing)()
        rows.append((i, pre + s + post, want))
    df = spark.createDataFrame(rows, "idx int, raw string, want boolean")
    got = df.select("idx", "want",
                    F.expr(normalize_boolean("raw")).alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], r


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=30))
def test_casts_never_throw(spark, texts):
    """The reference transform never raises on a bad value — it yields
    (None, error) (transformer.py:76-77). Engine invariant: every
    logical-type cast over arbitrary text completes; a non-null input
    either casts or NULLs, never errors the job."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "idx int, raw string")
    out = df.select(
        "idx",
        *[
            F.expr(build_cast("raw", t)).alias(f"c_{t}")
            for t in ("text", "integer", "bigint", "float", "numeric",
                      "boolean", "date", "datetime")
        ],
    ).collect()
    assert len(out) == len(texts)


@pytest.mark.parametrize("fmt", DEFAULT_DATE_FORMATS)
def test_each_format_has_java_translation(fmt):
    from etl_pipeline_from_mongo_json_to_postgre_spark.functions.datetime_fmt import (
        strptime_to_java,
    )

    assert strptime_to_java(fmt)
