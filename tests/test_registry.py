"""Registry integrity: queries() and oracle_sql() are a plain union of
every operator module's QUERIES / ORACLE_SQL (__spark_entry__._MODULES),
so these tests pin what a dict union cannot check for itself."""


def test_no_duplicate_entry_names_across_modules():
    """Registry assembly is dict.update over _MODULES: a module
    registering a name another module already owns SILENTLY shadows it
    (caught live in r7: a new Gopher-repetition operator reused
    corpus.text_repetition_stats' name and displaced an r3-green
    entry). Every (module, name) must be globally unique."""
    import __spark_entry__ as e

    owners: dict[str, list[str]] = {}
    for mod in e._MODULES:
        for name in mod.QUERIES:
            owners.setdefault(name, []).append(mod.__name__)
        # oracles must belong to the SAME module's queries — a module
        # publishing SQL under another module's entry name would
        # silently displace the real oracle (same dict.update shadowing,
        # on the oracle half of the registry)
        foreign = [n for n in mod.ORACLE_SQL if n not in mod.QUERIES]
        assert not foreign, f"{mod.__name__} defines foreign oracles: {foreign}"
    dupes = {n: ms for n, ms in owners.items() if len(ms) > 1}
    assert not dupes, f"entry names registered by multiple modules: {dupes}"


def test_every_oracle_key_has_a_query():
    import __spark_entry__ as e

    assert set(e.oracle_sql()) <= set(e.queries()), (
        "every oracle key must have a query")


def test_ntz_output_shim(spark):
    """Registry outputs must carry no TIMESTAMP_LTZ column: collect() of
    LTZ goes through the PYTHON PROCESS timezone, so a non-UTC driver
    host would shift values vs the UTC-naive DuckDB oracle. The shim
    casts at the boundary (session is pinned UTC, so values are
    preserved); full-sweep evidence: FAILS=[] under TZ=America/New_York
    (2026-08-14)."""
    import datetime

    from pyspark.sql import functions as F

    import __spark_entry__ as e

    def fake_query(spark_, sf_dir):
        return spark_.createDataFrame(
            [(1, datetime.datetime(2024, 3, 1, 12, 0))], "id long, ts timestamp"
        ).select("id", "ts", F.date_trunc("hour", "ts").alias("h"))

    wrapped = e._boundary(fake_query)
    df = wrapped(spark, "unused")
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "long", "timestamp_ntz", "timestamp_ntz"]
    row = df.collect()[0]
    assert row.ts == datetime.datetime(2024, 3, 1, 12, 0)


def test_boundary_tunes_the_callers_session(spark, sf_dir, duck):
    """The driver runs entries on its own session (ANSI on, any time
    zone) and builders do not tune it themselves: the boundary must.
    p1_mapped_projection's dates shift under a New York session."""
    import __spark_entry__ as e
    from tests.oracle_compare import compare

    name = "p1_mapped_projection"
    tz, ansi = "spark.sql.session.timeZone", "spark.sql.ansi.enabled"
    saved = {k: spark.conf.get(k) for k in (tz, ansi)}
    try:
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(ansi, "true")
        ok, msg = compare(e.queries()[name](spark, sf_dir), duck,
                          e.oracle_sql()[name])
        assert ok, msg
        assert (spark.conf.get(tz), spark.conf.get(ansi)) == ("UTC", "false")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
