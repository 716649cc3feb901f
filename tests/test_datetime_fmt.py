"""strptime -> Java pattern translation (SURVEY §4.2.1, hard-part #3)."""

import pytest

from etl_pipeline_from_mongo_json_to_postgre_spark.functions.datetime_fmt import (
    has_time_component,
    strptime_to_java,
    translate_formats,
)
from etl_pipeline_from_mongo_json_to_postgre_spark.config.defaults import (
    DEFAULT_DATE_FORMATS,
)


@pytest.mark.parametrize(
    "py,java",
    [
        ("%Y-%m-%d", "yyyy-MM-dd"),
        ("%m/%d/%Y", "MM/dd/yyyy"),
        ("%d-%m-%Y", "dd-MM-yyyy"),
        ("%Y/%m/%d", "yyyy/MM/dd"),
        ("%Y.%m.%d", "yyyy.MM.dd"),
        ("%Y-%m-%dT%H:%M:%S", "yyyy-MM-dd'T'HH:mm:ss"),
        ("%Y-%m-%dT%H:%M:%S%z", "yyyy-MM-dd'T'HH:mm:ssXX"),
        ("%Y-%m-%dT%H:%M:%S.%fZ", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        ("%d-%m-%Y %H:%M:%S", "dd-MM-yyyy HH:mm:ss"),
        ("%m/%d/%Y %I:%M %p", "MM/dd/yyyy hh:mm a"),
    ],
)
def test_reference_formats(py, java):
    assert strptime_to_java(py) == java


def test_all_defaults_translate():
    assert len(translate_formats(DEFAULT_DATE_FORMATS)) == 10


def test_literal_quoting():
    assert strptime_to_java("%Yabc%m") == "yyyy'abc'MM"
    assert strptime_to_java("%d of %B") == "dd' of 'MMMM"


@pytest.mark.parametrize("py,java", [
    ("%Y-%m-%d'", "yyyy-MM-dd''''"),
    ("%H o'clock", "HH' o''clock'"),
    ("%Y[%m]", "yyyy'['MM']'"),
    ("%Y#{%m}", "yyyy'#{'MM'}'"),
])
def test_java_reserved_literals_are_quoted(py, java):
    assert strptime_to_java(py) == java


def test_unknown_directive_raises():
    with pytest.raises(ValueError):
        strptime_to_java("%Q")


def test_time_component_detection():
    assert not has_time_component("%Y-%m-%d")
    assert has_time_component("%Y-%m-%dT%H:%M:%S")
    assert has_time_component("%m/%d/%Y %I:%M %p")
