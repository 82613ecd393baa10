"""DDL render/parse round-trip and DDL-form schema history.

The reference stores schema history as DDL text + position and
re-parses it on restart (``relational/history/SchemaHistory.java``,
``relational/ddl/DdlParser.java``). These tests pin: (1) the render →
parse round trip for all three change types, (2) the Column-level
parser being byte-identical to the driver-side parser on the same
statements, (3) an engine whose history arrives as DDL-form payloads
recovering the exact same schema as one fed structured payloads."""

from __future__ import annotations

import json
import os

import pytest

from debezium_spark.ddl import change_to_ddl, parse_ddl, parse_ddl_cols
from debezium_spark.streaming.engine import Engine, EngineConfig

from tests.test_schema_evolution import (
    BASE,
    _changes,
    _world_with_messages,
)


def test_roundtrip_all_change_types():
    for ch in _changes():
        ddl = change_to_ddl(ch, table="repo_content")
        back = parse_ddl(ddl)
        assert back["change_type"] == ch["change_type"]
        assert back["table"] == "repo_content"
        assert back["column_name"] == ch["column_name"]
        assert back.get("new_type") == ch.get("new_type")
        assert back.get("prev_name") == ch.get("prev_name")


def test_parse_tolerance():
    # keyword case, extra whitespace, trailing semicolon, spaced types
    add = parse_ddl("  alter  TABLE repo_content ADD column sz Decimal( 10 , 2 ) ; ")
    assert add == {
        "change_type": "ALTER_ADD_COLUMN",
        "table": "repo_content",
        "column_name": "sz",
        "new_type": "decimal(10,2)",
        "prev_name": None,
    }
    ren = parse_ddl("ALTER TABLE t RENAME COLUMN a TO b")
    assert (ren["prev_name"], ren["column_name"]) == ("a", "b")
    wid = parse_ddl("alter table t alter column c set data type BIGINT")
    assert (wid["change_type"], wid["new_type"]) == ("ALTER_WIDEN_TYPE", "bigint")


@pytest.mark.parametrize(
    "bad",
    [
        "DROP TABLE t",
        "ALTER TABLE t ADD COLUMN c",  # missing type
        "ALTER TABLE t RENAME COLUMN a b",  # missing TO
        "CREATE TABLE t (a int",  # unbalanced parens
        "",
    ],
)
def test_parse_rejects_out_of_dialect(bad):
    with pytest.raises(ValueError, match="unparseable DDL"):
        parse_ddl(bad)


def test_parse_create_table():
    ch = parse_ddl(
        "create TABLE repo_content ( repo varchar, path varchar, "
        "commit varchar, lang varchar, content varchar, "
        "size_bytes bigint DEFAULT 7, tag varchar default 'x y', "
        "PRIMARY key ( repo , path ) );"
    )
    assert ch["change_type"] == "CREATE_TABLE"
    assert ch["table"] == "repo_content"
    assert [c["name"] for c in ch["columns"]] == [
        "repo", "path", "commit", "lang", "content", "size_bytes", "tag",
    ]
    assert ch["columns"][5]["default"] == 7
    assert ch["columns"][6]["default"] == "x y"
    assert ch["primary_key"] == ["repo", "path"]
    # render -> parse round trip
    assert parse_ddl(change_to_ddl(ch)) == ch
    # PK referencing an unknown column is rejected
    with pytest.raises(ValueError, match="unknown columns"):
        parse_ddl("CREATE TABLE t (a int, PRIMARY KEY (b))")
    with pytest.raises(ValueError, match="unparseable column"):
        parse_ddl("CREATE TABLE t (a int, CHECK (a > 0))")


def test_parse_multi_action_alter():
    ch = parse_ddl(
        "alter table t add column a decimal( 10 , 2 ) DEFAULT 1.5, "
        "DROP COLUMN b, rename column c to d, "
        "alter column e set data type bigint;"
    )
    assert ch["change_type"] == "ALTER_MULTI"
    assert ch["table"] == "t"
    assert [a["change_type"] for a in ch["actions"]] == [
        "ALTER_ADD_COLUMN", "ALTER_DROP_COLUMN",
        "ALTER_RENAME_COLUMN", "ALTER_WIDEN_TYPE",
    ]
    assert ch["actions"][0]["new_type"] == "decimal(10,2)"
    assert ch["actions"][0]["default"] == 1.5
    assert ch["actions"][2] == {
        "change_type": "ALTER_RENAME_COLUMN",
        "column_name": "d",
        "new_type": None,
        "prev_name": "c",
    }
    assert parse_ddl(change_to_ddl(ch)) == ch
    with pytest.raises(ValueError, match="unparseable ALTER action"):
        parse_ddl("ALTER TABLE t ADD COLUMN a int, FROB b")


_STATEMENTS = [
    "ALTER TABLE t_1 ADD COLUMN c_9 int;",
    "alter table t_2 add column c_10 decimal(10,2)",
    "ALTER TABLE t_3 RENAME COLUMN old_c TO new_c",
    "alter table t_4 alter column c_11 set data type DOUBLE",
    "ALTER TABLE t_6 DROP COLUMN c_12;",
    "alter  table t_7  drop column c_13",
    "DROP TABLE t_5",
    "not ddl at all",
    "CREATE TABLE t_8 (a int, b decimal(10,2) DEFAULT 1.5, c varchar)",
    "create table t_9 (a bigint, b int, PRIMARY KEY (a, b));",
    "ALTER TABLE t_10 ADD COLUMN a decimal(10,2), DROP COLUMN b",
    "alter table t_11 drop column a, rename column b to c, "
    "alter column d set data type bigint;",
]


def test_column_parser_matches_driver_parser(spark):
    _assert_codegen_matches_driver(spark, _STATEMENTS)


def test_column_parser_ignores_commas_and_parens_in_quoted_defaults(spark):
    """A string DEFAULT holding ',', '(' or a PRIMARY KEY look-alike is
    one literal: the codegen item count and PK list must agree with the
    quote-aware driver parser."""
    _assert_codegen_matches_driver(
        spark,
        [
            "create table t_q (id bigint, tag varchar default 'a,b', "
            "n int default 7, primary key (id))",
            "alter table t_q add column tag varchar default 'x,(y', "
            "drop column b",
            "CREATE TABLE t_r (id bigint, note varchar "
            "DEFAULT 'primary key (z)')",
            "CREATE TABLE t_s (id bigint, a varchar DEFAULT '),(', "
            "PRIMARY KEY (id))",
        ],
    )


def _assert_codegen_matches_driver(spark, statements):
    df = spark.createDataFrame([(s,) for s in statements], "ddl string")
    import pyspark.sql.functions as F

    cols = parse_ddl_cols(F.col("ddl"))
    names = [
        "change_type", "table", "column_name", "new_type", "prev_name",
        "n_items", "pk_cols",
    ]
    rows = {
        r["ddl"]: r
        for r in df.select(
            "ddl", *[c.alias(n) for c, n in zip(cols, names)]
        ).collect()
    }
    for s in statements:
        try:
            full = parse_ddl(s)
            exp = {k: full.get(k) for k in names[:5]}
            # the codegen parser's compound tail fields derive from
            # the driver parse's structure
            if full["change_type"] == "CREATE_TABLE":
                exp["n_items"] = len(full["columns"])
                exp["pk_cols"] = (
                    ",".join(full["primary_key"]) or None
                )
            elif full["change_type"] == "ALTER_MULTI":
                exp["n_items"] = len(full["actions"])
                exp["pk_cols"] = None
            else:
                exp["n_items"] = exp["pk_cols"] = None
        except ValueError:
            exp = {k: None for k in names}
            exp["change_type"] = "UNPARSEABLE"
        got = rows[s]
        for k in names:
            assert got[k] == exp[k], (s, k, got[k], exp[k])


def _ddl_form(ch):
    """HistoryRecord-shaped payload: position + ddl text, no
    structured fields."""
    return json.dumps(
        {
            "lsn": ch["lsn"],
            "schema_version": ch["schema_version"],
            "ddl": change_to_ddl(ch),
        }
    )


def test_ddl_form_history_replays_identically(spark, tmp_root):
    changes = _changes()
    structured = [json.dumps(c) for c in changes]
    ddl_form = [_ddl_form(c) for c in changes]
    lsns = [c["lsn"] for c in changes]

    finals = []
    for tag, msgs in (("structured", structured), ("ddl", ddl_form)):
        src, log = _world_with_messages(
            spark, os.path.join(tmp_root, tag), msgs, lsns=lsns
        )
        eng = Engine(
            spark,
            EngineConfig(
                changelog_path=log,
                lake_root=os.path.join(tmp_root, tag, "lake"),
                source_table_path=src,
                batch_lsn_span=977,
                n_buckets=8,
            ),
        )
        assert eng.tracker.latest_version == len(changes)
        eng.run()
        finals.append(eng.final_state())

    a, b = finals
    assert a.columns == b.columns
    assert "size_bytes" in a.columns and "language" in a.columns
    assert a.schema == b.schema  # widen applied in both


def test_drop_column_roundtrip_through_history_replay():
    """DROP COLUMN (history/TableChanges.java:23-53 column-removal IR)
    rendered to DDL, re-parsed, and replayed through the tracker: the
    column leaves the schema at its version and earlier versions still
    carry it."""
    from debezium_spark.schema_evolution import SchemaTracker

    changes = [
        {
            "lsn": 10,
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
        },
        {
            "lsn": 20,
            "schema_version": 2,
            "change_type": "ALTER_DROP_COLUMN",
            "column_name": "size_bytes",
        },
    ]
    # render -> parse round trip preserves the change
    replayed = []
    for ch in changes:
        back = parse_ddl(change_to_ddl(ch))
        assert back["change_type"] == ch["change_type"]
        assert back["column_name"] == ch["column_name"]
        replayed.append(
            {**back, "lsn": ch["lsn"], "schema_version": ch["schema_version"]}
        )
    tr = SchemaTracker(replayed)
    assert tr.latest_version == 2
    assert "size_bytes" in tr.schemas[1].logical_names
    assert "size_bytes" not in tr.schemas[2].logical_names
    assert tr.added_at_version("size_bytes") == 1  # history intact


def test_drop_column_is_metadata_only_on_the_lake(spark, tmp_root):
    """Iceberg drop semantics: reads stop projecting the column, old
    files keep the bytes, time travel to a pre-drop version still sees
    the values; dropping a key column is rejected."""
    from debezium_spark.lake import LakeTable

    lake = LakeTable(spark, os.path.join(tmp_root, "lake_drop"), n_buckets=2)
    lake.create()
    lake.apply_schema_change(
        {
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
            "schema_version": 1,
            "lsn": 1,
        }
    )
    ddl = (
        "repo: string, path: string, commit: string, lang: string, "
        "content: string, size_bytes: long, op: string, lsn: long"
    )
    lake.merge(
        spark.createDataFrame(
            [("r", "a", "c1", "py", "xxxx", 4, "c", 2)], ddl
        ),
        1,
    )
    v_before = lake.current_version()
    assert [r["size_bytes"] for r in lake.read_state().collect()] == [4]

    lake.apply_schema_change(
        {
            "change_type": "ALTER_DROP_COLUMN",
            "column_name": "size_bytes",
            "schema_version": 2,
            "lsn": 3,
        }
    )
    cur = lake.read_state()
    assert "size_bytes" not in cur.columns
    assert cur.count() == 1  # data intact
    # time travel to the pre-drop version still projects the column
    old = lake.read_state(version=v_before)
    assert [r["size_bytes"] for r in old.collect()] == [4]

    with pytest.raises(ValueError, match="cannot drop key column"):
        lake.apply_schema_change(
            {
                "change_type": "ALTER_DROP_COLUMN",
                "column_name": "path",
                "schema_version": 3,
                "lsn": 4,
            }
        )


def test_add_column_default_roundtrip_and_semantics(spark, tmp_root):
    """Column default propagation (relational/DefaultValueConverter.
    java, Column.defaultValue; Iceberg initial-default): DDL round-
    trips the literal; rows written BEFORE the add read as the default;
    rows written after with an explicit NULL stay NULL — including
    after a merge rewrites the pre-add file."""
    from debezium_spark.lake import LakeTable

    ch = parse_ddl(
        "ALTER TABLE repo_content ADD COLUMN size_bytes bigint DEFAULT 7"
    )
    assert ch["default"] == 7
    assert (
        change_to_ddl({**ch, "change_type": "ALTER_ADD_COLUMN"})
        == "ALTER TABLE repo_content ADD COLUMN size_bytes bigint DEFAULT 7"
    )
    assert parse_ddl(
        "alter table t add column tag varchar DEFAULT 'x y'"
    )["default"] == "x y"

    lake = LakeTable(spark, os.path.join(tmp_root, "lake_dflt"), n_buckets=2)
    lake.create()
    ddl0 = (
        "repo: string, path: string, commit: string, lang: string, "
        "content: string, op: string, lsn: long"
    )
    lake.merge(
        spark.createDataFrame([("r", "a", "c1", "py", "xx", "c", 1)], ddl0),
        1,
    )
    lake.apply_schema_change(
        {**ch, "schema_version": 1, "lsn": 2}
    )
    got = {r["path"]: r["size_bytes"] for r in lake.read_state().collect()}
    assert got == {"a": 7}  # pre-add row reads the default

    # post-add merge: explicit NULL stays NULL; the rewrite of the
    # pre-add row materializes the default
    ddl1 = ddl0.replace(
        "content: string", "content: string, size_bytes: long"
    )
    lake.merge(
        spark.createDataFrame(
            [
                ("r", "a", "c2", "py", "xxx", None, "u", 3),
                ("r", "b", "c2", "go", "yy", None, "c", 4),
            ],
            ddl1,
        ),
        2,
    )
    got = {r["path"]: r["size_bytes"] for r in lake.read_state().collect()}
    assert got == {"a": None, "b": None}


def test_engine_applies_default_to_pre_add_events(spark, tmp_root):
    """Events stamped with pre-add schema versions contribute the
    column DEFAULT at merge (not NULL), matching the fold oracle."""
    import json as _json

    from debezium_spark.generator import schema_change_envelopes
    from debezium_spark.oracle import fold_final_state
    from debezium_spark.generator import gen_change_log, gen_source_table

    changes = [
        {
            "lsn": BASE + int(2 * 250 * 0.5),
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
            "default": 42,
        }
    ]
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 5, 20).write.parquet(src_path)
    data_log = gen_change_log(
        spark, 5, 20, n_events=250, snapshot_lsn_base=BASE,
        schema_change_lsns={1: changes[0]["lsn"]},
    )
    data_log.unionByName(
        schema_change_envelopes(spark, changes)
    ).write.parquet(log_path)
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log_path,
            lake_root=os.path.join(tmp_root, "lake_evdflt"),
            source_table_path=src_path,
            batch_lsn_span=977,
            n_buckets=8,
        ),
    )
    eng.run()

    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = data_log.toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in eng.final_state().collect()
    }
    assert set(got) == set(oracle)
    n_default = n_real = 0
    for k, row in got.items():
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        if row["size_bytes"] == 42:
            n_default += 1
        elif row["size_bytes"] is not None:
            n_real += 1
    # both populations exist: pre-add rows defaulted, post-add rows real
    assert n_default > 0 and n_real > 0


def test_quoted_default_literal_is_rejected_loudly():
    """A string default containing a single quote sits outside the
    documented '[^']*' literal dialect — rendering must refuse rather
    than silently strip the quote and corrupt the stored default."""
    with pytest.raises(ValueError, match="single quote"):
        change_to_ddl(
            {
                "change_type": "ALTER_ADD_COLUMN",
                "column_name": "tag",
                "new_type": "varchar",
                "default": "ab'c",
            }
        )


def test_oracle_fold_applies_drop_and_rejects_unknown_change():
    """The Python reference fold must mirror the engine on DROP COLUMN
    (column leaves the folded state) and fail loudly on change types it
    does not know, so new kinds can't be silently skipped."""
    import pandas as pd

    from debezium_spark.oracle import fold_final_state

    log_pdf = pd.DataFrame(
        [
            {
                "lsn": 1,
                "op": "c",
                "key": {"repo": "r", "path": "a"},
                "before": None,
                "after": {
                    "repo": "r", "path": "a", "commit": "c1",
                    "lang": "py", "content": "x", "size_bytes": 9,
                },
                "is_tombstone": False,
                "schema_version": 1,
            },
            {
                "lsn": 30,
                "op": "u",
                "key": {"repo": "r", "path": "a"},
                "before": None,
                "after": {
                    "repo": "r", "path": "a", "commit": "c2",
                    "lang": "py", "content": "xy",
                },
                "is_tombstone": False,
                "schema_version": 2,
            },
        ]
    )
    changes = [
        {
            "lsn": 0,
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
        },
        {
            "lsn": 20,
            "schema_version": 2,
            "change_type": "ALTER_DROP_COLUMN",
            "column_name": "size_bytes",
        },
    ]
    state = fold_final_state(None, log_pdf, schema_changes=changes)
    assert set(state) == {("r", "a")}
    assert "size_bytes" not in state[("r", "a")]
    assert state[("r", "a")]["commit"] == "c2"

    with pytest.raises(ValueError, match="unknown schema change"):
        fold_final_state(
            None,
            log_pdf,
            schema_changes=[
                {"lsn": 0, "schema_version": 1, "change_type": "BOGUS"}
            ],
        )


def test_narrowing_ddl_is_rejected_at_apply():
    """A parsed SET DATA TYPE statement that would NARROW the column
    raises at apply (DdlParser accepts the syntax; the relational model
    rejects the change) — type evolution stays widen-only."""
    from debezium_spark.schema_evolution import TableSchema

    s = TableSchema().apply_change(
        {
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "n",
            "new_type": "bigint",
        }
    )
    ch = parse_ddl("ALTER TABLE t ALTER COLUMN n SET DATA TYPE int")
    with pytest.raises(ValueError, match="non-widening"):
        s.apply_change(ch)


def test_create_head_and_multi_alter_replay_through_engine(
    spark, tmp_root
):
    """The reference's schema history BEGINS with the captured table's
    CREATE and accepts multi-action ALTERs (DdlParser + TableChanges
    CREATE/ALTER entries) — both DDL-form records replay through the
    engine: the CREATE re-establishes the version-0 base, the multi
    ALTER folds all its actions into ONE schema version, and the final
    state matches the reference fold."""
    from debezium_spark.oracle import fold_final_state
    from debezium_spark.schema_evolution import BASE_SCHEMA

    create_ddl = (
        "CREATE TABLE repo_content (repo string, path string, "
        "commit string, lang string, content string, "
        "PRIMARY KEY (repo, path))"
    )
    multi_ddl = (
        "ALTER TABLE repo_content ADD COLUMN size_bytes int DEFAULT 42, "
        "RENAME COLUMN lang TO language"
    )
    mid = BASE + int(2 * 200 * 0.5)
    msgs = [
        json.dumps({"lsn": BASE - 50, "schema_version": 0, "ddl": create_ddl}),
        json.dumps({"lsn": mid, "schema_version": 1, "ddl": multi_ddl}),
    ]
    src, log = _world_with_messages(
        spark, os.path.join(tmp_root, "cmh"), msgs, lsns=[BASE - 50, mid]
    )
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log,
            lake_root=os.path.join(tmp_root, "cmh", "lake"),
            source_table_path=src,
            batch_lsn_span=977,
            n_buckets=8,
        ),
    )
    # the CREATE head rebuilt version 0 exactly (names, order, ids)
    assert eng.tracker.schemas[0].columns == BASE_SCHEMA
    # ONE statement -> ONE version: both actions live at v1
    assert eng.tracker.latest_version == 1
    v1 = eng.tracker.schemas[1]
    assert "language" in v1.logical_names
    assert "lang" not in v1.logical_names
    assert v1.col("size_bytes")["default"] == 42
    eng.run()

    src_pdf = spark.read.parquet(src).toPandas()
    log_pdf = (
        spark.read.parquet(log).filter("op <> 'm'").toPandas()
    )
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    from debezium_spark.ddl import parse_ddl

    multi = {**parse_ddl(multi_ddl), "lsn": mid, "schema_version": 1}
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=[multi])
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in eng.final_state().collect()
    }
    assert set(got) == set(oracle)
    n_default = 0
    for k, row in got.items():
        assert "language" in row and "lang" not in row
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        n_default += row["size_bytes"] == 42
    assert n_default > 0  # pre-add rows read the multi-ALTER's default


_STARS_CREATE = (
    "CREATE TABLE repo_content (repo string, path string, "
    "commit string, lang string, content string, stars int DEFAULT 7, "
    "PRIMARY KEY (repo, path))"
)


def test_create_head_differing_from_base_reaches_the_lake(spark, tmp_root):
    """A CREATE history head that differs from BASE_SCHEMA becomes the
    lake's version-0 schema: tracker and manifest agree from the first
    commit, and the extra column is in the table."""
    msg = json.dumps({"lsn": BASE - 50, "schema_version": 0, "ddl": _STARS_CREATE})
    src, log = _world_with_messages(
        spark, os.path.join(tmp_root, "stars"), [msg], lsns=[BASE - 50]
    )
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log,
            lake_root=os.path.join(tmp_root, "stars", "lake"),
            source_table_path=src,
            batch_lsn_span=977,
            n_buckets=8,
        ),
    )
    assert "stars" in eng.tracker.schemas[0].logical_names
    assert eng.lake.table_schema().columns == eng.tracker.schemas[0].columns
    eng.run()
    assert eng.lake.table_schema().columns == eng.tracker.latest.columns
    assert "stars" in eng.final_state().columns


def test_create_head_not_folded_at_init_raises(spark, tmp_root):
    """A version-0 CREATE row that the engine did not fold at init (the
    history was injected through config) cannot be applied mid-stream:
    the lake already holds rows under another v0 — fail loudly."""
    msg = json.dumps({"lsn": BASE - 50, "schema_version": 0, "ddl": _STARS_CREATE})
    src, log = _world_with_messages(
        spark, os.path.join(tmp_root, "late"), [msg], lsns=[BASE - 50]
    )
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log,
            lake_root=os.path.join(tmp_root, "late", "lake"),
            source_table_path=src,
            batch_lsn_span=977,
            n_buckets=8,
            schema_changes=[
                {
                    "lsn": 10**12,
                    "schema_version": 1,
                    "change_type": "ALTER_ADD_COLUMN",
                    "column_name": "size_bytes",
                    "new_type": "int",
                }
            ],
        ),
    )
    with pytest.raises(ValueError, match="CREATE TABLE"):
        eng.run()


def test_create_table_only_legal_as_history_head():
    from debezium_spark.schema_evolution import SchemaTracker

    create = {
        "change_type": "CREATE_TABLE",
        "columns": [{"name": "a", "type": "int"}],
        "primary_key": ["a"],
    }
    with pytest.raises(ValueError, match="version-0"):
        SchemaTracker().apply({**create, "lsn": 5, "schema_version": 1})
    tr = SchemaTracker(_changes())
    with pytest.raises(ValueError, match="precede"):
        tr.apply({**create, "lsn": 999, "schema_version": 0})


def test_ddl_form_unparseable_respects_hardening(spark, tmp_root):
    bad = json.dumps({"lsn": BASE + 10, "schema_version": 1, "ddl": "DROP TABLE x"})
    src, log = _world_with_messages(spark, os.path.join(tmp_root, "hard"), [bad])
    cfg = dict(
        changelog_path=log,
        source_table_path=src,
        batch_lsn_span=977,
        n_buckets=8,
    )
    with pytest.raises(ValueError, match="unparseable schema-change"):
        Engine(
            spark,
            EngineConfig(lake_root=os.path.join(tmp_root, "hard", "l1"), **cfg),
        )
    eng = Engine(
        spark,
        EngineConfig(
            lake_root=os.path.join(tmp_root, "hard", "l2"),
            schema_history_skip_unparseable=True,
            **cfg,
        ),
    )
    assert eng.tracker.latest_version == 0
