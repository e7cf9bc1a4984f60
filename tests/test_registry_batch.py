"""The concurrent CREATE batch of functions/registry.register_all: what
keeps it order-free, what reads its one definition per name, and how it
fails."""

from __future__ import annotations

import re

import pytest

from doris_spark.engine import _inline_sql_function
from doris_spark.functions.registry import (
    DORIS_SQL_FUNCTIONS,
    SQL_FUNCTIONS,
    clamp_datetime_domain,
)
from doris_spark.functions.registry_ext import DORIS_SQL_FUNCTIONS_EXT
from doris_spark.plans.sqltok import in_spans, lit_spans

_CALL = re.compile(r"(?<![\w.$`])(\w+)\s*\(")


def _calls(sql: str) -> set[str]:
    """Names called in `sql`, outside string literals."""
    spans = lit_spans(sql)
    return {m.group(1).lower() for m in _CALL.finditer(sql) if not in_spans(spans, m.start())}


def test_one_definition_per_name():
    assert not set(DORIS_SQL_FUNCTIONS) & set(DORIS_SQL_FUNCTIONS_EXT)
    assert len(SQL_FUNCTIONS) == len(DORIS_SQL_FUNCTIONS) + len(DORIS_SQL_FUNCTIONS_EXT)


def test_no_body_calls_a_sibling():
    """Every CREATE of the batch can run in any order: no body (as CREATEd,
    after the datetime-domain clamp) calls a name the batch defines. A
    body that needs a sibling must be registered after the batch."""
    siblings = {
        name: sorted(_calls(clamp_datetime_domain(name, body)) & set(SQL_FUNCTIONS))
        for name, (_, body) in SQL_FUNCTIONS.items()
    }
    assert {n: s for n, s in siblings.items() if s} == {}


def test_sibling_scan_skips_literals():
    assert _calls("concat('years_add(', x) || upper(y)") == {"concat", "upper"}


def test_inline_yearweek_uses_the_registered_body():
    out = _inline_sql_function("SELECT yearweek(d) FROM t", "yearweek")
    assert "__yearweek(CAST(CAST((d) AS TIMESTAMP) AS STRING), CAST((0) AS INT))" in out
    assert "weekofyear" not in out


def test_inline_hour_ceil_keeps_its_period():
    out = _inline_sql_function("SELECT hour_ceil(ts, 2) FROM t", "hour_ceil")
    assert "CAST((2) AS INT)" in out
    assert "CAST((TIMESTAMP '0001-01-01 00:00:00') AS TIMESTAMP)" in out
    assert "hour_ceil" not in out


def test_inline_substitutes_each_parameter_once(monkeypatch):
    """An argument that spells a later parameter's name is not replaced
    again, and a parameter name inside a literal of the body stays."""
    out = _inline_sql_function("SELECT years_add(n, 1)", "years_add")
    assert "CAST((n) AS TIMESTAMP)" in out
    assert "CAST((CAST((1) AS INT)) AS TIMESTAMP)" not in out
    monkeypatch.setitem(SQL_FUNCTIONS, "probe_fn", ("s STRING", "concat('s', s)"))
    assert _inline_sql_function("SELECT probe_fn(x)", "probe_fn") == (
        "SELECT (concat('s', CAST((x) AS STRING)))")


def test_inline_skips_calls_with_too_many_arguments():
    assert _inline_sql_function("SELECT yearweek(d, 0, 1)", "yearweek") is None


def test_failed_create_raises_after_the_whole_batch(spark, monkeypatch):
    """A CREATE that fails is raised by prepare_session, only after every
    other CREATE of the batch has finished, and leaves the session
    unprepared so that the next call registers again."""
    from doris_spark import session
    from doris_spark.functions import registry

    bad = next(iter(SQL_FUNCTIONS))  # submitted first, fails first
    params, _ = SQL_FUNCTIONS[bad]
    monkeypatch.setitem(SQL_FUNCTIONS, bad, (params, "__batch_probe_missing(1)"))
    done = []
    create = registry._create

    def recording(spark_, name, params_, body):
        create(spark_, name, params_, body)
        done.append(name)

    monkeypatch.setattr(registry, "_create", recording)
    fresh = spark.newSession()
    with pytest.raises(Exception, match="__batch_probe_missing"):
        session.prepare_session(fresh)
    assert sorted(done) == sorted(n for n in SQL_FUNCTIONS if n != bad)
    assert session.session_token(fresh) not in session._PREPARED

    monkeypatch.undo()
    session.prepare_session(fresh)
    assert session.session_token(fresh) in session._PREPARED
    desc = "\n".join(r[0] for r in fresh.sql(f"DESCRIBE FUNCTION EXTENDED {bad}").collect())
    assert "sqlFunction" in desc and "__batch_probe_missing" not in desc
