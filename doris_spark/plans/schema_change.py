"""Schema-change jobs: ALTER TABLE ADD / DROP / MODIFY / RENAME COLUMN.

Reference analogs:
- fe/fe-core/.../alter/SchemaChangeHandler.java — light schema change:
  ADD/DROP of value columns is metadata-only when no data conversion is
  needed.
- be/src/storage/schema_change/schema_change.cpp — direct schema change:
  a full tablet rewrite applying per-column converters (type casts,
  default backfill) and an atomic tablet swap.

Spark-first mapping:
- **ADD COLUMN with a NULL default** on a file-backed table is
  METADATA-ONLY (`ALTER TABLE ... ADD COLUMNS`; parquet by-name
  resolution reads the missing column as NULL) — the light-schema-change
  path: zero data jobs regardless of table size.
- **ADD COLUMN with a non-NULL default, DROP COLUMN, MODIFY COLUMN
  (type change = per-column CAST converter), RENAME COLUMN** run the
  direct schema-change job: one DISTRIBUTED select-transform pass
  written to a staging table, then an atomic catalog swap
  (DROP + RENAME). No driver-side collect; partition layout is
  preserved (partitionBy on the staging write), so at 100 TB this is
  the same shape as the reference's tablet-parallel rewrite.
- View-backed keys-model tables (Engine.create_table) transform their
  merged snapshot and re-register; dropping a KEY column is rejected
  like the reference (key columns participate in the sort/merge).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HEAD = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+"
    r"(?=(?:ADD|DROP|MODIFY|CHANGE|RENAME)\s+COLUMN\b)",
    re.I,
)


def doris_type_to_spark(t: str) -> str:
    """Single-column Doris type spelling -> Spark DDL type (the same
    narrowing rules the DDL translator applies at CREATE TABLE time)."""
    t = re.sub(r"\s+", " ", t.strip())
    t = re.sub(r"\bDATETIMEV?[12]?\b\s*(\(\s*\d+\s*\))?", "TIMESTAMP", t, flags=re.I)
    t = re.sub(r"\bDATEV[12]\b", "DATE", t, flags=re.I)
    t = re.sub(r"\bHLL\b", "ARRAY<INT>", t, flags=re.I)
    t = re.sub(r"\bBITMAP\b", "ARRAY<BIGINT>", t, flags=re.I)
    t = re.sub(r"\bQUANTILE_STATE\b", "ARRAY<DOUBLE>", t, flags=re.I)
    t = re.sub(
        r"\b(TINYINT|SMALLINT|INT|INTEGER|BIGINT|LARGEINT|DATE)\s*\(\s*\d+\s*\)",
        r"\1", t, flags=re.I,
    )
    t = re.sub(r"\bDECIMALV[23]\b", "DECIMAL", t, flags=re.I)
    t = re.sub(r"\bVARCHAR\s*\((?:\d+|\*)\)", "STRING", t, flags=re.I)
    t = re.sub(r"\bCHAR\s*\(\d+\)", "STRING", t, flags=re.I)
    t = re.sub(r"\b(VAR)?CHAR\b(?!\s*\()", "STRING", t, flags=re.I)
    t = re.sub(r"\bTEXT\b", "STRING", t, flags=re.I)
    t = re.sub(r"\bARRAY\s*<\s*LARGEINT\s*>", "ARRAY<DOUBLE>", t, flags=re.I)
    t = re.sub(r"\bLARGEINT\b", "DOUBLE", t, flags=re.I)
    t = re.sub(r"\bIPV[46]\b", "STRING", t, flags=re.I)
    t = re.sub(r"\bJSONB?\b", "STRING", t, flags=re.I)
    t = re.sub(r"\bVARIANT\b", "STRING", t, flags=re.I)
    t = re.sub(
        r"\bDECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)",
        lambda m: f"DECIMAL({min(int(m.group(1)), 38)},{m.group(2)})",
        t, flags=re.I,
    )
    t = re.sub(r"\bDECIMAL\b(?!\s*\()", "DECIMAL(38,9)", t, flags=re.I)
    return t.strip()


_TYPE = r"[A-Za-z_]+(?:\s*\([^)]*\))?(?:\s*<.*?>)?"
_DEF = (
    r"(?:\s+DEFAULT\s+(?P<dq>\"[^\"]*\"|'[^']*'|NULL|-?\d+(?:\.\d+)?"
    r"|CURRENT_TIMESTAMP(?:\(\d\))?|CURRENT_DATE))?"
)
_POS = r"(?:\s+(?P<first>FIRST)|\s+AFTER\s+`?(?P<after>\w+)`?)?"


def _default_expr(raw: str | None, styp: str) -> str | None:
    """DEFAULT literal -> Spark expression (None = NULL default)."""
    if raw is None or raw.upper() == "NULL":
        return None
    u = raw.upper()
    if u.startswith("CURRENT_TIMESTAMP"):
        return "current_timestamp()"
    if u == "CURRENT_DATE":
        return "current_date()"
    if raw[:1] in "\"'":
        return "CAST('" + raw[1:-1].replace("'", "''") + f"' AS {styp})"
    return f"CAST({raw} AS {styp})"


def _parse(text: str):
    """(table, [op, ...]) or None. Ops:
    {'kind': 'add', 'col', 'styp', 'dtyp', 'default', 'pos'}
    {'kind': 'drop', 'col'}
    {'kind': 'modify', 'col', 'styp', 'dtyp', 'default', 'pos'}
    {'kind': 'rename', 'old', 'new'}"""
    hm = _HEAD.match(text)
    if hm is None:
        return None
    name = hm.group(1)
    body = text[hm.end():].strip().rstrip(";").strip()
    ops = []

    rm = re.match(r"RENAME\s+COLUMN\s+`?(\w+)`?\s+`?(\w+)`?\s*$", body, re.I)
    if rm:
        return name, [{"kind": "rename", "old": rm.group(1), "new": rm.group(2)}]
    dm = re.match(r"DROP\s+COLUMN\s+`?(\w+)`?\s*$", body, re.I)
    if dm:
        return name, [{"kind": "drop", "col": dm.group(1)}]

    def _col_op(kind: str, spec: str):
        m = re.match(
            rf"`?(\w+)`?\s+(?P<typ>{_TYPE})"
            r"(?:\s+(?:NOT\s+)?NULL)?"
            rf"{_DEF}"
            r"(?:\s+COMMENT\s+(?:\"[^\"]*\"|'[^']*'))?"
            rf"{_POS}\s*$",
            spec, re.I | re.S,
        )
        if m is None:
            return None
        dtyp = re.sub(r"\s*([<>,():])\s*", r"\1", m.group("typ").strip()).lower()
        styp = doris_type_to_spark(m.group("typ"))
        pos = None
        if m.group("first"):
            pos = ("first",)
        elif m.group("after"):
            pos = ("after", m.group("after"))
        return {
            "kind": kind, "col": m.group(1), "styp": styp, "dtyp": dtyp,
            "default": _default_expr(m.group("dq"), styp), "pos": pos,
        }

    am = re.match(r"ADD\s+COLUMN\s+(.*)$", body, re.I | re.S)
    if am:
        spec = am.group(1).strip()
        if spec.startswith("("):
            # ADD COLUMN (c1 t1, c2 t2, ...): depth-aware split
            inner = spec[1:-1] if spec.endswith(")") else spec[1:]
            parts, depth, cur = [], 0, []
            for ch in inner:
                if ch in "<(":
                    depth += 1
                elif ch in ">)":
                    depth -= 1
                if ch == "," and depth == 0:
                    parts.append("".join(cur))
                    cur = []
                else:
                    cur.append(ch)
            if "".join(cur).strip():
                parts.append("".join(cur))
            for p in parts:
                op = _col_op("add", p.strip())
                if op is None:
                    return None
                ops.append(op)
            return name, ops
        op = _col_op("add", spec)
        return (name, [op]) if op else None
    mm = re.match(r"MODIFY\s+COLUMN\s+(.*)$", body, re.I | re.S)
    if mm:
        op = _col_op("modify", mm.group(1).strip())
        return (name, [op]) if op else None
    return None


def apply_schema_change(eng, text: str) -> DataFrame | None:
    """Execute an ALTER TABLE column schema change; None if `text` isn't
    one (caller continues down the statement router)."""
    parsed = _parse(text)
    if parsed is None:
        return None
    name, ops = parsed
    spark = eng.spark

    view_backed = name in eng._views
    if not view_backed and not spark.catalog.tableExists(name):
        raise ValueError(f"schema change on unknown table {name}")

    meta = eng._meta.get(name)
    keys = set(map(str.lower, meta["keys"])) if meta else set()
    for op in ops:
        if op["kind"] == "drop" and op["col"].lower() in keys:
            raise ValueError(
                f"cannot drop key column {op['col']} (reference: key "
                "columns participate in the sort/merge schema)"
            )

    # ---- light schema change: pure ADD with NULL defaults on a
    # file-backed table is metadata-only (zero data jobs at any size)
    if (
        not view_backed
        and all(o["kind"] == "add" and o["default"] is None and o["pos"] is None
                for o in ops)
    ):
        cols = ", ".join(f"`{o['col']}` {o['styp']}" for o in ops)
        spark.sql(f"ALTER TABLE `{name}` ADD COLUMNS ({cols})")
        spark.catalog.refreshTable(name)
        _register_hints(ops)
        return eng._reply("status", f"ADD COLUMN metadata-only ({len(ops)} col)", "string")

    # ---- direct schema change: one distributed transform pass
    cur = eng.table(name) if view_backed else spark.table(name)
    exprs: list[tuple[str, str]] = [(c, f"`{c}`") for c in cur.columns]
    have = {c.lower() for c in cur.columns}

    def _place(entry, pos):
        if pos is None:
            exprs.append(entry)
        elif pos[0] == "first":
            exprs.insert(0, entry)
        else:
            idx = next(
                (i for i, (c, _) in enumerate(exprs)
                 if c.lower() == pos[1].lower()),
                None,
            )
            if idx is None:
                raise ValueError(f"AFTER column {pos[1]} not found")
            exprs.insert(idx + 1, entry)

    for op in ops:
        if op["kind"] == "add":
            if op["col"].lower() in have:
                raise ValueError(f"column {op['col']} already exists")
            d = op["default"] or f"CAST(NULL AS {op['styp']})"
            _place((op["col"], d), op["pos"])
        elif op["kind"] == "drop":
            before = len(exprs)
            exprs[:] = [e for e in exprs if e[0].lower() != op["col"].lower()]
            if len(exprs) == before:
                raise ValueError(f"column {op['col']} not found")
        elif op["kind"] == "modify":
            idx = next(
                (i for i, (c, _) in enumerate(exprs)
                 if c.lower() == op["col"].lower()),
                None,
            )
            if idx is None:
                raise ValueError(f"column {op['col']} not found")
            entry = (exprs[idx][0], f"CAST(`{exprs[idx][0]}` AS {op['styp']})")
            if op["pos"] is None:
                exprs[idx] = entry
            else:
                del exprs[idx]
                _place(entry, op["pos"])
        else:  # rename
            idx = next(
                (i for i, (c, _) in enumerate(exprs)
                 if c.lower() == op["old"].lower()),
                None,
            )
            if idx is None:
                raise ValueError(f"column {op['old']} not found")
            exprs[idx] = (op["new"], exprs[idx][1])

    ndf = cur.select(*[F.expr(e).alias(c) for c, e in exprs])

    if view_backed:
        from doris_spark.engine import _keys_view

        merge = _keys_view(meta) if meta else None
        if merge and any(o["kind"] == "modify" and o["col"].lower() in keys
                         for o in ops):
            # a narrowing key type can fold distinct keys into one:
            # re-apply the keys model, so the snapshot keeps one merged
            # row per key (the invariant keyed INSERTs rely on)
            ndf = merge(ndf)
        eng._publish(name, ndf)
        if meta:
            ren = {o["old"].lower(): o["new"] for o in ops
                   if o["kind"] == "rename"}
            if ren:
                meta["keys"] = [ren.get(k.lower(), k) for k in meta["keys"]]
                if meta.get("sequence_col"):
                    meta["sequence_col"] = ren.get(
                        meta["sequence_col"].lower(), meta["sequence_col"]
                    )
        _register_hints(ops)
        return eng._reply("status", f"schema change applied ({len(ops)} op)", "string")

    # catalog table: distributed rewrite -> staging table -> atomic swap
    parts = [
        c.name for c in spark.catalog.listColumns(name) if c.isPartition
    ]
    for op in ops:
        if op["kind"] in ("drop", "modify") and op["col"].lower() in {
            p.lower() for p in parts
        }:
            raise ValueError(
                f"cannot {op['kind']} partition column {op['col']}"
            )
    staging = f"__sc_{name}"
    spark.sql(f"DROP TABLE IF EXISTS `{staging}`")
    writer = ndf.write
    if parts:
        # partition columns must come last for partitionBy + saveAsTable
        ren = {o["old"]: o["new"] for o in ops if o["kind"] == "rename"}
        parts = [ren.get(p, p) for p in parts]
        data_cols = [c for c, _ in exprs if c not in parts]
        ndf = ndf.select(*data_cols, *parts)
        writer = ndf.write.partitionBy(*parts)
    writer.saveAsTable(staging)
    spark.sql(f"DROP TABLE `{name}`")
    # dropping an EXTERNAL table leaves its files; a stale warehouse dir
    # named after the table would block the managed-rename — `name` was
    # just dropped, so any dir there is unreferenced garbage
    import os as _os
    import shutil as _shutil

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).replace("file:", "")
    db = spark.catalog.currentDatabase()
    for cand in (
        _os.path.join(wh, name.lower()),
        _os.path.join(wh, f"{db}.db", name.lower()),
    ):
        if _os.path.isdir(cand):
            _shutil.rmtree(cand, ignore_errors=True)
    spark.sql(f"ALTER TABLE `{staging}` RENAME TO `{name}`")
    if parts:
        # the rename moves the table directory but the catalog's
        # PER-PARTITION locations still point at the staging paths —
        # rebuild them from the moved layout
        spark.sql(f"MSCK REPAIR TABLE `{name}`")
    spark.catalog.refreshTable(name)
    _register_hints(ops)
    return eng._reply("status", f"schema change rewrote table ({len(ops)} op)", "string")


def _register_hints(ops) -> None:
    """Scale-sensitive macros (array_join over array<datetimev2(n)>) read
    DECLARED Doris types — keep the hint registry current."""
    from doris_spark.plans.type_hints import register_columns

    register_columns(
        (o["col"], o["dtyp"]) for o in ops if o["kind"] in ("add", "modify")
    )
