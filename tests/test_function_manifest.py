"""The function surface a prepared session holds, pinned byte for byte.

tests/data/function_manifest.jsonl has one line per user function of a
fresh session after `prepare_session`: its name and the lines of
`DESCRIBE FUNCTION EXTENDED`, with the two fields that differ from run to
run normalized (JVM lambda class names and `sqlFunction.createTime`).
It pins bodies, parameter lists, return types and which registration won
a name, where tests/data/sql_surface.txt pins names only.

Regenerate (only when a definition changes on purpose):
    python -m tests.test_function_manifest
"""

from __future__ import annotations

import json
import os
import re

MANIFEST = os.path.join(os.path.dirname(__file__), "data", "function_manifest.jsonl")

_LAMBDA = re.compile(r"\$\$Lambda(?:\$\d+)?/0x[0-9a-f]+")
_CREATE_TIME = re.compile(r'"sqlFunction\.createTime":"\d+"')


def _normalize(line: str) -> str:
    line = _LAMBDA.sub("$$Lambda", line)
    return _CREATE_TIME.sub('"sqlFunction.createTime":"0"', line)


def manifest_lines(spark) -> list[str]:
    """One JSON line per user function of `spark`, sorted by name."""
    names = sorted(r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect())
    out = []
    for name in names:
        rows = spark.sql(f"DESCRIBE FUNCTION EXTENDED `{name}`").collect()
        desc = [_normalize(r[0]) for r in rows]
        out.append(json.dumps({"name": name, "describe": desc}, ensure_ascii=False))
    return out


def _prepared_fresh_session(spark):
    """A new session on the fixture's context, with only what
    `prepare_session` installs: other tests add functions to the shared
    fixture session."""
    from doris_spark.session import prepare_session

    return prepare_session(spark.newSession())


def test_function_manifest_matches(spark):
    got = manifest_lines(_prepared_fresh_session(spark))
    with open(MANIFEST, encoding="utf-8") as fh:
        want = fh.read().splitlines()
    assert [json.loads(x)["name"] for x in got] == [json.loads(x)["name"] for x in want]
    diff = [(w, g) for w, g in zip(want, got) if w != g]
    assert not diff, diff[:3]


if __name__ == "__main__":
    from doris_spark.session import get_spark

    lines = manifest_lines(_prepared_fresh_session(get_spark("function_manifest", cpus=4)))
    with open(MANIFEST, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} functions to {MANIFEST}")
