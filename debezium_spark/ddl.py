"""DDL render / parse round-trip for the schema history.

The reference historizes schema evolution as **DDL text** plus a log
position, and rebuilds table structure on restart by re-parsing that
text (``relational/history/SchemaHistory.java:34-101`` stores
``HistoryRecord`` = {position, ddl, tableChanges};
``relational/ddl/DdlParser.java`` / the ANTLR grammars under
``debezium-ddl-parser/`` do the re-parse). Our engine's native payload
is the structured JSON change dict — this module adds the reference's
other representation: render a change as one ANSI-ish ALTER statement,
and parse such a statement back into the structured dict, so a schema
history written as DDL strings recovers identically on cold restart
(engine._parse_schema_change accepts either form).

Dialect (the four single-action change types the lake applies,
schema_evolution.py:14; column removal per the reference's
``history/TableChanges.java:23-53`` IR — plus the two compound forms
the reference's history replay must accept, CREATE TABLE as the
history-head record and multi-action ALTER statements, both modeled
by ``history/TableChanges.java``'s CREATE/ALTER entry kinds):

  ALTER TABLE t ADD COLUMN c <type> [DEFAULT <literal>]
  ALTER TABLE t RENAME COLUMN a TO b
  ALTER TABLE t ALTER COLUMN c SET DATA TYPE <type>
  ALTER TABLE t DROP COLUMN c
  ALTER TABLE t <action>, <action> [, ...]          -> ALTER_MULTI
  CREATE TABLE t (c <type> [DEFAULT <lit>], ...,
                  [PRIMARY KEY (a, b, ...)])        -> CREATE_TABLE

where <literal> is an integer, a decimal number, or a single-quoted
string (the DefaultValueConverter subset:
``relational/DefaultValueConverter.java`` / ``Column.defaultValue``).
A multi-action ALTER folds into ONE schema version (one statement,
one new table shape — exactly how the reference emits one
SchemaChangeEvent per statement); CREATE TABLE parses into the full
column list + primary key and is only legal as the version-0 history
head (everything else still routes through the hardening path).

Identifiers are ``[A-Za-z_][A-Za-z0-9_]*``; types additionally allow a
parenthesized precision suffix (``decimal(10,2)``). Keywords are
case-insensitive and whitespace-tolerant, matching the reference
parser's tolerance for dump-formatted DDL.

There are two parsers with identical semantics:

- :func:`parse_ddl` — driver-side, for control-plane history replay
  (a handful of rows at init; never on a data path).
- :func:`parse_ddl_cols` — Column-level ``regexp_extract`` for the
  data-plane catalog op ``cdc_ddl_parse`` (pure JVM codegen; this is
  the shape a 10^10-row DDL audit log would be parsed with).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_ID = r"[A-Za-z_][A-Za-z0-9_]*"
_TYPE = r"[A-Za-z_][A-Za-z0-9_]*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
_LIT = r"-?\d+(?:\.\d+)?|'[^']*'"

_ADD_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+COLUMN\s+({_ID})\s+({_TYPE})"
    rf"(?:\s+DEFAULT\s+({_LIT}))?\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+RENAME\s+COLUMN\s+({_ID})\s+TO\s+({_ID})\s*;?\s*$",
    re.IGNORECASE,
)
_WIDEN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+({_ID})"
    rf"\s+SET\s+DATA\s+TYPE\s+({_TYPE})\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+DROP\s+COLUMN\s+({_ID})\s*;?\s*$",
    re.IGNORECASE,
)

# compound forms: the ALTER header (actions split on top-level commas)
# and CREATE TABLE with its parenthesized body
_ALTER_HDR_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+({_ID})\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ACT_ADD_RE = re.compile(
    rf"^ADD\s+COLUMN\s+({_ID})\s+({_TYPE})(?:\s+DEFAULT\s+({_LIT}))?$",
    re.IGNORECASE,
)
_ACT_REN_RE = re.compile(
    rf"^RENAME\s+COLUMN\s+({_ID})\s+TO\s+({_ID})$", re.IGNORECASE
)
_ACT_WID_RE = re.compile(
    rf"^ALTER\s+COLUMN\s+({_ID})\s+SET\s+DATA\s+TYPE\s+({_TYPE})$",
    re.IGNORECASE,
)
_ACT_DRP_RE = re.compile(rf"^DROP\s+COLUMN\s+({_ID})$", re.IGNORECASE)
_COLDEF_RE = re.compile(
    rf"^({_ID})\s+({_TYPE})(?:\s+DEFAULT\s+({_LIT}))?$", re.IGNORECASE
)
_PK_RE = re.compile(
    rf"^PRIMARY\s+KEY\s*\(\s*({_ID}(?:\s*,\s*{_ID})*)\s*\)$",
    re.IGNORECASE,
)


def _split_top(s: str) -> list[str]:
    """Split on commas outside parentheses and quoted literals."""
    parts, depth, in_str, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return [p for p in parts if p]


def _norm_type(t: str) -> str:
    return re.sub(r"\s+", "", t).lower()


def _render_literal(v) -> str:
    if isinstance(v, str):
        if "'" in v:
            # outside the documented '[^']*' literal dialect — refuse
            # loudly rather than silently corrupt the stored default
            raise ValueError(
                f"string default {v!r} contains a single quote; "
                "unsupported in the DDL literal dialect"
            )
        return "'" + v + "'"
    return str(v)


def _parse_literal(tok: str):
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def change_to_ddl(change: dict, table: str = "repo_content") -> str:
    """Render a structured schema change as one ALTER statement."""
    ct = change["change_type"]
    tbl = change.get("table") or table
    if ct == "ALTER_ADD_COLUMN":
        ddl = (
            f"ALTER TABLE {tbl} ADD COLUMN "
            f"{change['column_name']} {change['new_type']}"
        )
        if change.get("default") is not None:
            ddl += f" DEFAULT {_render_literal(change['default'])}"
        return ddl
    if ct == "ALTER_RENAME_COLUMN":
        return (
            f"ALTER TABLE {tbl} RENAME COLUMN {change['prev_name']} "
            f"TO {change['column_name']}"
        )
    if ct == "ALTER_WIDEN_TYPE":
        return (
            f"ALTER TABLE {tbl} ALTER COLUMN {change['column_name']} "
            f"SET DATA TYPE {change['new_type']}"
        )
    if ct == "ALTER_DROP_COLUMN":
        return f"ALTER TABLE {tbl} DROP COLUMN {change['column_name']}"
    if ct == "ALTER_MULTI":
        clauses = []
        for a in change["actions"]:
            one = change_to_ddl({**a, "table": tbl}, table=tbl)
            clauses.append(one[len(f"ALTER TABLE {tbl} ") :])
        return f"ALTER TABLE {tbl} " + ", ".join(clauses)
    if ct == "CREATE_TABLE":
        defs = []
        for c in change["columns"]:
            d = f"{c['name']} {c['type']}"
            if c.get("default") is not None:
                d += f" DEFAULT {_render_literal(c['default'])}"
            defs.append(d)
        if change.get("primary_key"):
            defs.append(
                "PRIMARY KEY (" + ", ".join(change["primary_key"]) + ")"
            )
        return f"CREATE TABLE {tbl} (" + ", ".join(defs) + ")"
    raise ValueError(f"unknown change_type {ct!r}")


def _parse_action(clause: str) -> dict:
    """Parse one ALTER action clause into the structured change
    fields (no table — the statement header carries it)."""
    m = _ACT_ADD_RE.match(clause)
    if m:
        out = {
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": m.group(1),
            "new_type": _norm_type(m.group(2)),
            "prev_name": None,
        }
        if m.group(3) is not None:
            out["default"] = _parse_literal(m.group(3))
        return out
    m = _ACT_REN_RE.match(clause)
    if m:
        return {
            "change_type": "ALTER_RENAME_COLUMN",
            "column_name": m.group(2),
            "new_type": None,
            "prev_name": m.group(1),
        }
    m = _ACT_WID_RE.match(clause)
    if m:
        return {
            "change_type": "ALTER_WIDEN_TYPE",
            "column_name": m.group(1),
            "new_type": _norm_type(m.group(2)),
            "prev_name": None,
        }
    m = _ACT_DRP_RE.match(clause)
    if m:
        return {
            "change_type": "ALTER_DROP_COLUMN",
            "column_name": m.group(1),
            "new_type": None,
            "prev_name": None,
        }
    raise ValueError(f"unparseable ALTER action: {clause!r}")


def parse_ddl(ddl: str) -> dict:
    """Parse one ALTER statement into the structured change fields.

    Returns {change_type, table, column_name, new_type, prev_name}
    (position fields — lsn, schema_version — live in the enclosing
    history record, as in the reference's HistoryRecord envelope).
    Raises ValueError on anything outside the dialect, which the
    engine's ``schema_history_skip_unparseable`` mode downgrades to a
    warn-and-skip exactly like ``AbstractSchemaHistory``.
    """
    m = _ADD_RE.match(ddl)
    if m:
        out = {
            "change_type": "ALTER_ADD_COLUMN",
            "table": m.group(1),
            "column_name": m.group(2),
            "new_type": _norm_type(m.group(3)),
            "prev_name": None,
        }
        if m.group(4) is not None:
            out["default"] = _parse_literal(m.group(4))
        return out
    m = _RENAME_RE.match(ddl)
    if m:
        return {
            "change_type": "ALTER_RENAME_COLUMN",
            "table": m.group(1),
            "column_name": m.group(3),
            "new_type": None,
            "prev_name": m.group(2),
        }
    m = _WIDEN_RE.match(ddl)
    if m:
        return {
            "change_type": "ALTER_WIDEN_TYPE",
            "table": m.group(1),
            "column_name": m.group(2),
            "new_type": _norm_type(m.group(3)),
            "prev_name": None,
        }
    m = _DROP_RE.match(ddl)
    if m:
        return {
            "change_type": "ALTER_DROP_COLUMN",
            "table": m.group(1),
            "column_name": m.group(2),
            "new_type": None,
            "prev_name": None,
        }
    m = _CREATE_RE.match(ddl)
    if m:
        cols, pk = [], []
        for part in _split_top(m.group(2)):
            pm = _PK_RE.match(part)
            if pm:
                if pk:
                    raise ValueError(
                        f"duplicate PRIMARY KEY clause in: {ddl!r}"
                    )
                pk = [c.strip() for c in pm.group(1).split(",")]
                continue
            cm = _COLDEF_RE.match(part)
            if not cm:
                raise ValueError(
                    f"unparseable column definition {part!r} in: {ddl!r}"
                )
            col = {
                "name": cm.group(1),
                "type": _norm_type(cm.group(2)),
            }
            if cm.group(3) is not None:
                col["default"] = _parse_literal(cm.group(3))
            cols.append(col)
        if not cols:
            raise ValueError(f"CREATE TABLE with no columns: {ddl!r}")
        names = [c["name"] for c in cols]
        if unknown := [k for k in pk if k not in names]:
            raise ValueError(
                f"PRIMARY KEY references unknown columns {unknown} in: "
                f"{ddl!r}"
            )
        return {
            "change_type": "CREATE_TABLE",
            "table": m.group(1),
            "columns": cols,
            "primary_key": pk,
            "column_name": None,
            "new_type": None,
            "prev_name": None,
        }
    m = _ALTER_HDR_RE.match(ddl)
    if m:
        clauses = _split_top(m.group(2))
        if len(clauses) >= 2:
            return {
                "change_type": "ALTER_MULTI",
                "table": m.group(1),
                "actions": [_parse_action(c) for c in clauses],
                "column_name": None,
                "new_type": None,
                "prev_name": None,
            }
    raise ValueError(f"unparseable DDL: {ddl!r}")


def parse_ddl_cols(ddl: Column) -> list[Column]:
    """Column-level parser — the same dialect as :func:`parse_ddl`,
    expressed as ``regexp_extract`` columns so a DDL audit column
    parses inside whole-stage codegen (no Python on the data path).

    Returns [change_type, table, column_name, new_type, prev_name,
    n_items, pk_cols]; the two compound forms set the tail fields —
    CREATE_TABLE's n_items is its column-definition count and pk_cols
    the comma-joined PRIMARY KEY list; ALTER_MULTI's n_items is its
    action count (single-action fields stay NULL for both, and vice
    versa). Unparseable rows get change_type = 'UNPARSEABLE' and NULL
    fields (callers pick fail/warn/skip, mirroring the engine's
    history hardening modes).
    """
    # regexp_extract returns '' on no-match; '' -> NULL via nullif
    add = (
        rf"(?i)^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+COLUMN\s+({_ID})"
        rf"\s+({_TYPE})(?:\s+DEFAULT\s+(?:{_LIT}))?\s*;?\s*$"
    )
    ren = rf"(?i)^\s*ALTER\s+TABLE\s+({_ID})\s+RENAME\s+COLUMN\s+({_ID})\s+TO\s+({_ID})\s*;?\s*$"
    wid = (
        rf"(?i)^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+({_ID})"
        rf"\s+SET\s+DATA\s+TYPE\s+({_TYPE})\s*;?\s*$"
    )
    drp = rf"(?i)^\s*ALTER\s+TABLE\s+({_ID})\s+DROP\s+COLUMN\s+({_ID})\s*;?\s*$"
    # one ALTER action clause (no table header), for the multi form
    act = (
        rf"(?:ADD\s+COLUMN\s+{_ID}\s+{_TYPE}(?:\s+DEFAULT\s+(?:{_LIT}))?"
        rf"|RENAME\s+COLUMN\s+{_ID}\s+TO\s+{_ID}"
        rf"|ALTER\s+COLUMN\s+{_ID}\s+SET\s+DATA\s+TYPE\s+{_TYPE}"
        rf"|DROP\s+COLUMN\s+{_ID})"
    )
    mul = (
        rf"(?i)^\s*ALTER\s+TABLE\s+({_ID})\s+{act}"
        rf"(?:\s*,\s*{act})+\s*;?\s*$"
    )
    # CREATE TABLE body: column defs + optional PRIMARY KEY clause;
    # the dialect nests parens at most one level (type precision, PK
    # list), so "a top-level comma" = a comma NOT followed by a close
    # paren before any open paren — expressible as a Java-regex
    # lookahead, keeping the whole parse inside codegen
    coldef = rf"{_ID}\s+{_TYPE}(?:\s+DEFAULT\s+(?:{_LIT}))?"
    pkcl = rf"PRIMARY\s+KEY\s*\(\s*{_ID}(?:\s*,\s*{_ID})*\s*\)"
    cre = (
        rf"(?i)^\s*CREATE\s+TABLE\s+({_ID})\s*\(\s*{coldef}"
        rf"(?:\s*,\s*{coldef})*(?:\s*,\s*{pkcl})?\s*\)\s*;?\s*$"
    )
    top_comma = r",(?![^()]*\))"

    def _x(pat: str, grp: int) -> Column:
        return F.nullif(F.regexp_extract(ddl, pat, grp), F.lit(""))

    is_add = ddl.rlike(add)
    is_ren = ddl.rlike(ren)
    is_wid = ddl.rlike(wid)
    is_drp = ddl.rlike(drp)
    is_mul = ddl.rlike(mul)
    is_cre = ddl.rlike(cre)
    change_type = (
        F.when(is_add, F.lit("ALTER_ADD_COLUMN"))
        .when(is_ren, F.lit("ALTER_RENAME_COLUMN"))
        .when(is_wid, F.lit("ALTER_WIDEN_TYPE"))
        .when(is_drp, F.lit("ALTER_DROP_COLUMN"))
        .when(is_mul, F.lit("ALTER_MULTI"))
        .when(is_cre, F.lit("CREATE_TABLE"))
        .otherwise(F.lit("UNPARSEABLE"))
    )
    table = F.coalesce(
        _x(add, 1), _x(ren, 1), _x(wid, 1), _x(drp, 1),
        F.when(is_mul, _x(mul, 1)), F.when(is_cre, _x(cre, 1)),
    )
    column_name = F.coalesce(_x(add, 2), _x(ren, 3), _x(wid, 2), _x(drp, 2))
    raw_type = F.coalesce(_x(add, 3), _x(wid, 3))
    new_type = F.lower(F.regexp_replace(raw_type, r"\s+", ""))
    prev_name = _x(ren, 2)
    # top-level-comma counting: valid on any balanced-paren fragment
    # that does NOT end with an enclosing ')' — so CREATE counts over
    # its extracted body (greedy group strips the outer parens), MULTI
    # over the whole statement. String literals are emptied first: a
    # ',' or '(' inside a quoted DEFAULT is not structure.
    unquoted = F.regexp_replace(ddl, r"'[^']*'", "''")
    cre_body = F.regexp_extract(
        unquoted, rf"(?i)^\s*CREATE\s+TABLE\s+{_ID}\s*\((.*)\)\s*;?\s*$", 1
    )
    n_top_cre = F.regexp_count(cre_body, F.lit(top_comma)).cast("long")
    n_top_mul = F.regexp_count(unquoted, F.lit(top_comma)).cast("long")
    has_pk = unquoted.rlike(rf"(?i){pkcl}")
    n_items = (
        # CREATE: top-level commas + 1, minus the PK clause if present
        F.when(is_cre, n_top_cre + 1 - F.when(has_pk, 1).otherwise(0))
        # MULTI: actions = top-level commas + 1
        .when(is_mul, n_top_mul + 1)
        .cast("long")
    )
    pk_cols = F.when(
        is_cre & has_pk,
        F.regexp_replace(
            F.regexp_extract(
                unquoted, rf"(?i)PRIMARY\s+KEY\s*\(\s*([^)]*?)\s*\)", 1
            ),
            r"\s*,\s*",
            ",",
        ),
    )
    return [
        change_type, table, column_name, new_type, prev_name,
        n_items, pk_cols,
    ]
