"""Session semantics pinned by ``get_spark``'s DEFAULT_CONFIG."""

from __future__ import annotations

import pytest


def test_session_semantics_pinned(spark):
    """ANSI mode is written out on a ``get_spark`` session (Spark 4.1's
    default, not left to it)."""
    from gluestick_ts_spark.session import DEFAULT_CONFIG

    assert DEFAULT_CONFIG["spark.sql.ansi.enabled"] == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    # ANSI semantics: a malformed cast raises instead of yielding NULL,
    # try_cast is the NULL-on-failure spelling, size(NULL) is NULL
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        spark.sql("SELECT CAST('x' AS INT)").collect()
    row = spark.sql(
        "SELECT try_cast('x' AS INT) AS v, size(CAST(NULL AS ARRAY<STRING>)) AS n"
    ).first()
    assert row.v is None and row.n is None


def test_case_mapping_on_the_jvm(spark):
    """ICU case mapping is off on a ``get_spark`` session; ``lower`` of
    accented, Greek, Cyrillic and dotted-capital text still maps as the
    JDK's Unicode tables do."""
    from gluestick_ts_spark.session import DEFAULT_CONFIG

    assert DEFAULT_CONFIG["spark.sql.icu.caseMappings.enabled"] == "false"
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    row = spark.sql(
        "SELECT lower('ÉCOLE Straße ΣΟΦΙΑ ПРИВЕТ İ') AS l, lower(NULL) AS n"
    ).first()
    assert row.l == "école straße σοφια привет i̇"
    assert row.n is None
