"""JSON-driven query compiler tests: happy path, error accumulation,
injection safety."""

import datetime

import pytest
from pyspark.sql import functions as F

from ubw_spark.core.errors import SpecValidationError
from ubw_spark.core.jsonquery import compile_json_query


@pytest.fixture()
def tables(spark, friend_df):
    grades = spark.createDataFrame(
        [(3, "C"), (4, "B"), (5, "A"), (6, "S")], "g bigint, letter string"
    )
    reg = {"friend": friend_df, "grades": grades}

    def resolve(name):
        return reg[name]

    return resolve


def test_join_derive_agg_order(spark, tables):
    q = {
        "from": "friend",
        "joins": [{"table": "grades", "on": [["grade", "g"]], "broadcast": True}],
        "columns": [
            {"name": "letter", "expr": "letter"},
            {"name": "age2", "fn": "mul", "args": [{"expr": "age"}, {"lit": 2}]},
        ],
        "group_by": ["letter"],
        "aggs": [
            {"name": "n", "fn": "count"},
            {"name": "max_age2", "fn": "max", "arg": "age2"},
        ],
        "orders": [["letter", False]],
    }
    out = compile_json_query(spark, q, tables).collect()
    got = [(r["letter"], r["n"], r["max_age2"]) for r in out]
    assert got == [("A", 1, 56), ("B", 1, 60), ("C", 1, 4666), ("S", 1, None)]


def test_errors_accumulate(spark, tables):
    q = {
        "from": "friend",
        "joins": [{"table": "nope", "on": [["grade", "g"]]}],
        "columns": [
            {"name": "x", "fn": "no_such_fn", "args": []},
            {"name": "y", "expr": "missing_col"},
            {"expr": "name"},  # missing 'name'
        ],
    }
    with pytest.raises(SpecValidationError) as ei:
        compile_json_query(spark, q, tables)
    msg = str(ei.value)
    assert "nope" in msg and "no_such_fn" in msg and "missing_col" in msg
    assert "'name' required" in msg


def test_no_implicit_cross_join(spark, tables):
    q = {
        "from": "friend",
        "joins": [{"table": "grades", "on": []}],
        "columns": [{"name": "id", "expr": "id"}],
    }
    with pytest.raises(SpecValidationError, match="no implicit cross joins"):
        compile_json_query(spark, q, tables)


def test_expression_language_cannot_inject(spark, tables):
    """Expression nodes are data: a SQL string in 'expr' is treated as a
    (nonexistent) column name, never parsed as SQL."""
    q = {
        "from": "friend",
        "columns": [
            {"name": "x", "expr": "1; DROP TABLE friend--"},
        ],
    }
    with pytest.raises(SpecValidationError, match="not in scope"):
        compile_json_query(spark, q, tables)


def test_params_block_applies(spark, tables):
    q = {
        "from": "friend",
        "columns": [
            {"name": "id", "expr": "id"},
            {"name": "grade", "expr": "grade"},
        ],
        "filters": {"grade": {"ge": 5}},
        "orders": [["id", True]],
        "take": 1,
    }
    out = compile_json_query(spark, q, tables).collect()
    assert [(r["id"], r["grade"]) for r in out] == [(4, 6)]


def test_group_type_rollup(spark, tables):
    q = {
        "from": "friend",
        "columns": [
            {"name": "grade", "expr": "grade"},
            {"name": "has_age", "fn": "when",
             "args": [{"fn": "gt", "args": [{"expr": "age"}, {"lit": 0}]},
                      {"lit": 1}, {"lit": 0}]},
        ],
        "group_by": ["grade"],
        "group_type": "rollup",
        "aggs": [{"name": "n", "fn": "count"}],
    }
    from ubw_spark.core.jsonquery import compile_json_query

    rows = compile_json_query(spark, q, tables).collect()
    # 4 grade groups + 1 grand-total rollup row
    assert len(rows) == 5
    assert sum(1 for r in rows if r["grade"] is None) == 1
    total = [r["n"] for r in rows if r["grade"] is None][0]
    assert total == 4


def test_group_type_unknown_rejected(spark, tables):
    from ubw_spark.core.jsonquery import compile_json_query
    from ubw_spark.core.errors import SpecValidationError

    q = {"from": "friend", "columns": [{"name": "id", "expr": "id"}],
         "group_by": ["id"], "group_type": "fancy",
         "aggs": [{"name": "n", "fn": "count"}]}
    with pytest.raises(SpecValidationError, match="group_type"):
        compile_json_query(spark, q, tables)


# --- window nodes ---------------------------------------------------------


def test_window_rank_lag_running(spark, tables):
    """rank + lag + framed running sum per grade-parity group, with a
    QUALIFY-style filter on the rank column from the same dict."""
    q = {
        "from": "friend",
        "columns": [
            {"name": "id", "expr": "id"},
            {"name": "grade", "expr": "grade"},
        ],
        "windows": [
            {"name": "rk", "fn": "rank", "partition_by": ["grade"],
             "order_by": [["id", False]]},
            {"name": "prev_id", "fn": "lag", "arg": "id",
             "partition_by": ["grade"], "order_by": [["id", False]]},
            {"name": "cum_n", "fn": "count", "partition_by": ["grade"],
             "order_by": [["id", False]],
             "frame": {"type": "rows", "start": "unbounded_preceding",
                       "end": "current"}},
        ],
        "orders": [["id", False]],
    }
    rows = compile_json_query(spark, q, tables).collect()
    # every friend is alone in its grade → rank 1, no predecessor, count 1
    assert [(r["id"], r["rk"], r["prev_id"], r["cum_n"]) for r in rows] == [
        (1, 1, None, 1), (2, 1, None, 1), (3, 1, None, 1), (4, 1, None, 1)
    ]


def test_window_qualify_topk(spark, tables):
    q = {
        "from": "friend",
        "columns": [{"name": "id", "expr": "id"},
                    {"name": "age", "expr": "age"}],
        "windows": [
            {"name": "rk", "fn": "row_number", "global": True,
             "order_by": [["age", True], ["id", False]]},
        ],
        "filters": {"rk": {"le": 2}},
        "orders": [["rk", False]],
    }
    rows = compile_json_query(spark, q, tables).collect()
    # top-2 by age desc (nulls last): 魔理沙 2333, jilen 30
    assert [(r["id"], r["rk"]) for r in rows] == [(1, 1), (2, 2)]


def test_window_validation_accumulates(spark, tables):
    q = {
        "from": "friend",
        "columns": [{"name": "id", "expr": "id"}],
        "windows": [
            {"name": "w1", "fn": "evil_udf", "partition_by": ["id"],
             "order_by": ["id"]},
            {"name": "w2", "fn": "rank", "partition_by": ["nope"],
             "order_by": [["missing", True]]},
            {"name": "id", "fn": "rank", "partition_by": ["id"],
             "order_by": ["id"]},
            {"fn": "rank", "partition_by": ["id"], "order_by": ["id"]},
        ],
    }
    with pytest.raises(SpecValidationError) as e:
        compile_json_query(spark, q, tables)
    msg = str(e.value)
    for frag in ("evil_udf", "nope", "missing", "collides", "'name' required"):
        assert frag in msg


def test_window_global_requires_opt_in(spark, tables):
    """Empty partition_by = whole table through one task at scale — the
    compiler refuses unless the node says 'global': true."""
    q = {
        "from": "friend",
        "columns": [{"name": "id", "expr": "id"}],
        "windows": [{"name": "rk", "fn": "rank", "order_by": ["id"]}],
    }
    with pytest.raises(SpecValidationError, match="one task"):
        compile_json_query(spark, q, tables)
    q["windows"][0]["global"] = True
    assert compile_json_query(spark, q, tables).count() == 4


def test_window_fn_not_reachable_from_scalar_position(spark, tables):
    """Window names are NOT in the scalar _FNS whitelist: a 'fn' node
    can't smuggle rank() into a projection (and vice versa)."""
    q = {
        "from": "friend",
        "columns": [{"name": "r", "fn": "rank", "args": []}],
    }
    with pytest.raises(SpecValidationError, match="unknown function 'rank'"):
        compile_json_query(spark, q, tables)


# --- JSON-driven writes (insert / upsert / update) -----------------------


def test_json_insert_with_lookup_roundtrip(spark, tables, tmp_path):
    """JSON insert resolves the grade letter via a multi-table lookup,
    lands in parquet, and a JSON query reads it back — the doc-01
    pain-point #7 write half, end to end."""
    from ubw_spark.core.jsonquery import compile_json_write
    from ubw_spark.sources.writers import write_table

    # target table: friends enriched with a resolved letter column
    target_path = str(tmp_path / "friend_letters")
    base = compile_json_query(
        spark,
        {
            "from": "friend",
            "joins": [{"table": "grades", "on": [["grade", "g"]], "broadcast": True}],
            "columns": [
                {"name": "id", "expr": "id"},
                {"name": "name", "expr": "name"},
                {"name": "grade", "expr": "grade"},
                {"name": "letter", "expr": "letter"},
            ],
        },
        tables,
    )
    write_table(base, target_path, mode="overwrite")

    reg = {"friend_letters": spark.read.parquet(target_path),
           "grades": tables("grades")}
    verb, new_rows = compile_json_write(
        spark,
        {
            "verb": "insert",
            "into": "friend_letters",
            # literal rows know the natural key (grade) but not the
            # association (letter) — the lookup resolves it
            "rows": [{"id": 9, "name": "newcomer", "grade": 5}],
            "lookups": [{"table": "grades", "on": [["grade", "g"]],
                         "set": {"letter": "letter"}}],
        },
        lambda n: reg[n],
    )
    assert verb == "insert"
    write_table(new_rows, target_path, mode="append")

    back = compile_json_query(
        spark,
        {
            "from": "friend_letters",
            "columns": [{"name": "id", "expr": "id"},
                        {"name": "letter", "expr": "letter"}],
            "filters": {"id": {"eq": 9}},
        },
        lambda n: {"friend_letters": spark.read.parquet(target_path)}[n],
    ).collect()
    assert [(r["id"], r["letter"]) for r in back] == [(9, "A")]


def test_json_upsert_updates_win(spark, tables):
    from ubw_spark.core.jsonquery import compile_json_write

    verb, merged = compile_json_write(
        spark,
        {
            "verb": "upsert",
            "target": "friend",
            "keys": ["id"],
            "rows": [
                {"id": 1, "name": "renamed", "nick": "n1", "age": 99, "grade": 3},
                {"id": 42, "name": "brand new", "nick": "n42", "age": 1, "grade": 4},
            ],
        },
        tables,
    )
    assert verb == "upsert"
    got = {r["id"]: (r["name"], r["age"]) for r in merged.collect()}
    assert len(got) == 5  # 4 original, one replaced, one inserted
    assert got[1] == ("renamed", 99)
    assert got[42] == ("brand new", 1)
    assert got[2][0] == "jilen"  # untouched row survives


def test_json_update_where_assign(spark, tables):
    from ubw_spark.core.jsonquery import compile_json_write

    verb, updated = compile_json_write(
        spark,
        {
            "verb": "update",
            "target": "friend",
            "filters": {"grade": {"ge": 5}},
            "assign": {"age": {"fn": "add", "args": [
                {"fn": "coalesce", "args": [{"expr": "age"}, {"lit": 0}]},
                {"lit": 1}]}},
        },
        tables,
    )
    assert verb == "update"
    got = {r["id"]: r["age"] for r in updated.collect()}
    # grade>=5 rows bumped (28→29, None→1); others untouched
    assert got == {1: 2333, 2: 30, 3: 29, 4: 1}


def test_json_write_injection_and_validation(spark, tables):
    """Write path is data-only: unknown columns, verbs, filter ops and
    functions are accumulated errors, never executed."""
    from ubw_spark.core.jsonquery import compile_json_write

    with pytest.raises(SpecValidationError, match="unknown verb"):
        compile_json_write(spark, {"verb": "drop table", "into": "friend"}, tables)

    with pytest.raises(SpecValidationError) as ei:
        compile_json_write(
            spark,
            {
                "verb": "insert",
                "into": "friend",
                "rows": [{"id": 10, "evil'; DROP--": 1}],
            },
            tables,
        )
    assert "not in target" in str(ei.value)

    with pytest.raises(SpecValidationError) as ei:
        compile_json_write(
            spark,
            {
                "verb": "update",
                "target": "friend",
                "filters": {"grade": {"exec": "rm -rf"}},
                "assign": {"age": {"fn": "system", "args": []}},
            },
            tables,
        )
    msg = str(ei.value)
    assert "unknown op 'exec'" in msg and "unknown function 'system'" in msg

    # upsert without valid keys refuses
    with pytest.raises(SpecValidationError, match="keys"):
        compile_json_write(
            spark,
            {"verb": "upsert", "target": "friend", "keys": ["nope"],
             "rows": [{"id": 1}]},
            tables,
        )


def test_json_insert_lookup_same_named_key(spark, tables):
    """Lookup joining on a same-named key must not be ambiguous."""
    from ubw_spark.core.jsonquery import compile_json_write

    grades2 = spark.createDataFrame(
        [(3, "C"), (5, "A")], "grade bigint, letter string"
    )
    reg = {"friend": tables("friend"), "g2": grades2}
    _verb, rows = compile_json_write(
        spark,
        {
            "verb": "insert",
            "into": "friend",
            "rows": [{"id": 11, "name": "x", "grade": 5}],
            # resolve nick from a table whose key is ALSO called grade
            "lookups": [{"table": "g2", "on": [["grade", "grade"]],
                         "set": {"nick": "letter"}}],
        },
        lambda n: reg[n],
    )
    got = rows.collect()
    assert len(got) == 1 and got[0]["nick"] == "A"


def test_json_update_assignments_read_old_values(spark, tables):
    """SQL UPDATE semantics: every assignment reads the OLD row —
    {age: grade, grade: age} must swap, not cascade."""
    from ubw_spark.core.jsonquery import compile_json_write

    _verb, updated = compile_json_write(
        spark,
        {
            "verb": "update",
            "target": "friend",
            "filters": {"id": {"eq": 2}},
            "assign": {"age": {"expr": "grade"}, "grade": {"expr": "age"}},
        },
        tables,
    )
    row = {r["id"]: (r["age"], r["grade"]) for r in updated.collect()}
    assert row[2] == (4, 30)  # swapped (was age=30, grade=4)
    assert row[1] == (2333, 3)  # untouched


# --- property-based fuzz: hostile/garbage specs never escape ------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_junk = st.one_of(
    st.text(max_size=30), st.integers(), st.booleans(), st.none(),
    st.lists(st.text(max_size=10), max_size=3),
)
_spec = st.fixed_dictionaries(
    {},
    optional={
        "verb": st.one_of(_junk, st.sampled_from(
            ["insert", "upsert", "update", "validate"])),
        "into": _junk,
        "target": st.one_of(_junk, st.just("friend")),
        "checks": st.one_of(_junk, st.lists(
            st.dictionaries(st.text(max_size=10), _junk, max_size=3),
            max_size=3,
        )),
        "rows": st.lists(
            st.dictionaries(st.text(max_size=15), _junk, max_size=3),
            max_size=3,
        ),
        "keys": st.lists(st.text(max_size=15), max_size=3),
        "filters": st.dictionaries(
            st.text(max_size=15),
            st.dictionaries(st.text(max_size=10), _junk, max_size=2),
            max_size=2,
        ),
        "assign": st.dictionaries(st.text(max_size=15), _junk, max_size=2),
        "lookups": st.lists(
            st.dictionaries(st.text(max_size=10), _junk, max_size=3),
            max_size=2,
        ),
    },
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=_spec)
def test_json_write_fuzz_never_escapes(spark, tables, spec):
    """Any garbage spec either raises SpecValidationError (accumulated,
    data-only validation) or compiles into a plain DataFrame.  It must
    never raise an injection-shaped error from deeper layers (py4j SQL
    parse errors would indicate string interpolation into SQL)."""
    from ubw_spark.core.jsonquery import compile_json_write

    try:
        verb, df = compile_json_write(spark, spec, tables)
    except SpecValidationError:
        return  # rejected cleanly with accumulated messages
    except (TypeError, ValueError):
        return  # bad literal types surfaced as plain Python errors
    assert verb in ("insert", "upsert", "update")
    assert df.columns  # compiled to a real frame; nothing executed


def test_setop_union_except_all_variants(spark, tables):
    """Every set-op verb against a hand-computed truth on tiny frames."""
    reg = {
        "a": spark.createDataFrame([(1,), (1,), (2,), (3,)], "v bigint"),
        "b": spark.createDataFrame([(2,), (3,), (3,), (4,)], "v bigint"),
    }
    base = {
        "setop": {
            "op": None,
            "queries": [
                {"from": "a", "columns": [{"name": "v", "expr": "v"}]},
                {"from": "b", "columns": [{"name": "v", "expr": "v"}]},
            ],
        },
        "orders": [["v", False]],
    }

    def run(op):
        q = {**base, "setop": {**base["setop"], "op": op}}
        return [r["v"] for r in compile_json_query(spark, q, reg.get).collect()]

    assert run("union") == [1, 2, 3, 4]
    assert sorted(run("union_all")) == [1, 1, 2, 2, 3, 3, 3, 4]
    assert run("intersect") == [2, 3]
    assert sorted(run("intersect_all")) == [2, 3]
    assert run("except") == [1]
    assert sorted(run("except_all")) == [1, 1]


def test_setop_aligns_columns_by_name(spark, tables):
    """Branches with the same columns in a different declaration order
    must combine by NAME — positional union would silently swap cells."""
    reg = {
        "a": spark.createDataFrame([(1, "x")], "k bigint, s string"),
        "b": spark.createDataFrame([("y", 2)], "s string, k bigint"),
    }
    q = {
        "setop": {
            "op": "union_all",
            "queries": [
                {"from": "a", "columns": [{"name": "k", "expr": "k"},
                                          {"name": "s", "expr": "s"}]},
                {"from": "b", "columns": [{"name": "s", "expr": "s"},
                                          {"name": "k", "expr": "k"}]},
            ],
        },
        "orders": [["k", False]],
    }
    out = [(r["k"], r["s"]) for r in compile_json_query(spark, q, reg.get).collect()]
    assert out == [(1, "x"), (2, "y")]


def test_setop_validation_accumulates(spark, tables):
    """Unknown op, bad branch, AND schema mismatch all surface at once,
    each under its setop.queries[i] path; op stays whitelist-only."""
    q = {
        "setop": {
            "op": "union",
            "queries": [
                {"from": "friend", "columns": [{"name": "a", "expr": "age"}]},
                {"from": "friend", "columns": [{"name": "b", "expr": "grade"}]},
                {"from": "nope", "columns": [{"name": "a", "expr": "age"}]},
            ],
        },
    }
    with pytest.raises(SpecValidationError) as ei:
        compile_json_query(spark, q, tables)
    msg = str(ei.value)
    assert "do not match" in msg  # schema mismatch, branch 1
    assert "setop.queries[2]" in msg and "nope" in msg  # bad branch, pathed

    with pytest.raises(SpecValidationError, match="unknown op"):
        compile_json_query(
            spark,
            {"setop": {"op": "__import__", "queries": [{}, {}]}},
            tables,
        )
    with pytest.raises(SpecValidationError, match="at least two"):
        compile_json_query(
            spark,
            {"setop": {"op": "union", "queries": [{"from": "friend"}]}},
            tables,
        )


def test_setop_exclusive_with_scan_keys(spark, tables):
    q = {
        "from": "friend",
        "setop": {
            "op": "union",
            "queries": [
                {"from": "friend", "columns": [{"name": "a", "expr": "age"}]},
                {"from": "friend", "columns": [{"name": "a", "expr": "age"}]},
            ],
        },
    }
    with pytest.raises(SpecValidationError, match="exclusive with 'from'"):
        compile_json_query(spark, q, tables)


def test_setop_post_blocks_apply(spark, tables):
    """windows + filters + paging run on the COMBINED result."""
    reg = {
        "a": spark.createDataFrame([(i,) for i in range(10)], "v bigint"),
        "b": spark.createDataFrame([(i,) for i in range(5, 15)], "v bigint"),
    }
    q = {
        "setop": {
            "op": "union",
            "queries": [
                {"from": "a", "columns": [{"name": "v", "expr": "v"}]},
                {"from": "b", "columns": [{"name": "v", "expr": "v"}]},
            ],
        },
        "filters": {"v": {"ge": 3}},
        "orders": [["v", False]],
        "drop": 2,
        "take": 3,
    }
    out = [r["v"] for r in compile_json_query(spark, q, reg.get).collect()]
    assert out == [5, 6, 7]  # 3..14 filtered, drop 2, take 3


_setop_branch = st.one_of(
    _junk,
    st.fixed_dictionaries(
        {},
        optional={
            "from": st.sampled_from(["friend", "grades", "nope"]),
            "columns": st.lists(
                st.dictionaries(st.text(max_size=10), _junk, max_size=3),
                max_size=3,
            ),
            "filters": st.dictionaries(
                st.text(max_size=10),
                st.dictionaries(st.text(max_size=8), _junk, max_size=2),
                max_size=2,
            ),
        },
    ),
)
_setop_spec = st.fixed_dictionaries(
    {
        "setop": st.one_of(
            _junk,
            st.fixed_dictionaries(
                {},
                optional={
                    "op": _junk,
                    "queries": st.lists(_setop_branch, max_size=3),
                },
            ),
        )
    },
    optional={
        "orders": _junk,
        "take": _junk,
        "drop": _junk,
        "page_index": _junk,
        "page_size": _junk,
    },
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=_setop_spec)
def test_json_setop_fuzz_never_escapes(spark, tables, spec):
    """Property pair of test_json_write_fuzz_never_escapes for the setop
    surface: any garbage setop spec either raises SpecValidationError
    (accumulated, data-only validation) or compiles to a plain
    DataFrame — never an injection-shaped error from deeper layers."""
    try:
        df = compile_json_query(spark, spec, tables)
    except SpecValidationError:
        return
    except (TypeError, ValueError):
        return  # bad literal types surfaced as plain Python errors
    assert df.columns


def test_json_validate_verb(spark, tables):
    """The validate verb runs the single-scan expectations report from
    the same JSON vocabulary as the write verbs."""
    from ubw_spark.core.jsonquery import compile_json_write

    verb, rep = compile_json_write(
        spark,
        {
            "verb": "validate",
            "target": "friend",
            "checks": [
                {"kind": "not_null", "column": "name"},
                {"kind": "unique", "column": "name"},
                {"kind": "min_rows", "n": 1},
            ],
        },
        tables,
    )
    assert verb == "validate"
    rows = {(r["check"], r["column"]): r for r in rep.collect()}
    assert rows[("min_rows", "*")]["passed"]
    assert all(r["total"] == rows[("min_rows", "*")]["total"] for r in rows.values())

    with pytest.raises(SpecValidationError, match="checks"):
        compile_json_write(
            spark, {"verb": "validate", "target": "friend"}, tables
        )
    with pytest.raises(SpecValidationError, match="unknown kind"):
        compile_json_write(
            spark,
            {"verb": "validate", "target": "friend",
             "checks": [{"kind": "exec", "column": "name"}]},
            tables,
        )


def test_json_insert_select_from_setop(spark, tables):
    """Write and read halves of the DSL compose: an insert whose source
    is a setop spec (union of two projections) aligns to the target and
    appends the combined distinct rows."""
    from ubw_spark.core.jsonquery import compile_json_write

    reg = {
        "t_low": spark.createDataFrame([(1,), (2,)], "k bigint"),
        "t_high": spark.createDataFrame([(2,), (3,)], "k bigint"),
        "sink": spark.createDataFrame([(0,)], "k bigint"),
    }
    verb, rows = compile_json_write(
        spark,
        {
            "verb": "insert",
            "into": "sink",
            "select": {
                "setop": {
                    "op": "union",
                    "queries": [
                        {"from": "t_low", "columns": [{"name": "k", "expr": "k"}]},
                        {"from": "t_high", "columns": [{"name": "k", "expr": "k"}]},
                    ],
                },
            },
        },
        reg.get,
    )
    assert verb == "insert"
    assert sorted(r["k"] for r in rows.collect()) == [1, 2, 3]


def test_json_keyset_paging(spark):
    """The JSON layer's deep-page mode: "after_key" (the last row's
    sort-key values, echoed back by the client) must return exactly
    the rows after that boundary — and reject mixing with offset."""
    reg = {
        "t": spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "v bigint, g bigint"
        )
    }
    base = {
        "from": "t",
        "columns": [{"name": "v", "expr": "v"}, {"name": "g", "expr": "g"}],
        "orders": [["g", False], ["v", False]],
    }
    q1 = dict(base, take=5)
    page1 = [tuple(r) for r in compile_json_query(spark, q1, reg.get).collect()]
    assert len(page1) == 5
    last_g, last_v = page1[-1][1], page1[-1][0]
    q2 = dict(base, take=5, after_key={"g": last_g, "v": last_v})
    page2 = [tuple(r) for r in compile_json_query(spark, q2, reg.get).collect()]
    all_rows = [
        tuple(r)
        for r in compile_json_query(spark, dict(base), reg.get).collect()
    ]
    assert page1 + page2 == all_rows[:10]
    with pytest.raises(ValueError, match="mutually exclusive"):
        compile_json_query(
            spark,
            dict(base, take=5, drop=5, after_key={"g": 0, "v": 0}),
            reg.get,
        ).collect()


def test_json_agg_post_chain(spark):
    """The per-agg "post" chain: unary scalar fns applied over the
    aggregate output (the money convention from JSON), with unknown or
    non-unary names accumulated as spec errors."""
    reg = {
        "t": spark.createDataFrame(
            [("a", 1.234), ("a", 2.345), ("b", 9.999)], "g string, v double"
        )
    }
    q = {
        "from": "t",
        "columns": [{"name": "g", "expr": "g"}, {"name": "v", "expr": "v"}],
        "group_by": ["g"],
        "aggs": [{"name": "s", "fn": "sum", "arg": "v",
                  "post": ["round2", "cast_double"]}],
        "orders": [["g", False]],
    }
    out = {r["g"]: r["s"] for r in compile_json_query(spark, q, reg.get).collect()}
    assert out == {"a": 3.58, "b": 10.0}
    bad = dict(q, aggs=[{"name": "s", "fn": "sum", "arg": "v",
                         "post": ["nope", "add"]}])
    from ubw_spark.core.errors import SpecValidationError
    with pytest.raises(SpecValidationError) as e:
        compile_json_query(spark, bad, reg.get)
    assert "unknown fn 'nope'" in str(e.value)
    assert "not unary" in str(e.value)


# ---- code-review r11: compiler contract holes -------------------------


def test_visible_false_column_hidden_but_sortable(spark, tables):
    """Per-column capability flags must survive into the post-blocks:
    a visible:false column is a live (hidden) sort key but absent from
    the output — before the fix every declared flag was discarded."""
    q = {
        "from": "friend",
        "columns": [
            {"name": "sort_key", "expr": "age", "visible": False},
            {"name": "nick", "expr": "nick"},
        ],
        "orders": [["sort_key", True]],
        "take": 2,
    }
    out = compile_json_query(spark, q, tables)
    assert out.columns == ["nick"]
    ages = {r["nick"] for r in out.collect()}
    assert len(ages) == 2


def test_orderable_false_order_silently_ignored(spark, tables):
    """orderable:false follows the engine's silent-ignore contract for
    runtime order params (L1)."""
    q = {
        "from": "friend",
        "columns": [
            {"name": "nick", "expr": "nick", "orderable": False},
            {"name": "age", "expr": "age"},
        ],
        "orders": [["nick", True], ["age", False]],
    }
    out = compile_json_query(spark, q, tables).collect()
    assert [r["age"] for r in out] == sorted(
        (r["age"] for r in out), key=lambda a: (a is None, a)
    )


def test_group_by_without_aggs_is_an_error(spark, tables):
    q = {
        "from": "friend",
        "columns": [{"name": "g", "expr": "grade"}],
        "group_by": ["g"],
    }
    with pytest.raises(SpecValidationError, match="requires 'aggs'"):
        compile_json_query(spark, q, tables)


def test_same_named_join_key_dedups_scope(spark, tables, friend_df):
    """id = id joins (the common case) must compile — the right copy of
    the key is dropped so later references stay unambiguous."""
    reg = {
        "a": friend_df.select(F.col("id"), F.col("nick")),
        "b": friend_df.select(F.col("id"), F.col("age")),
    }
    q = {
        "from": "a",
        "joins": [{"table": "b", "on": [["id", "id"]]}],
        "columns": [
            {"name": "id", "expr": "id"},
            {"name": "nick", "expr": "nick"},
            {"name": "age", "expr": "age"},
        ],
        "orders": [["id", False]],
    }
    out = compile_json_query(spark, q, lambda n: reg[n])
    assert out.columns == ["id", "nick", "age"]
    assert out.count() == friend_df.count()


def test_non_key_column_collision_is_an_error(spark, friend_df):
    reg = {"a": friend_df, "b": friend_df.withColumnRenamed("id", "fid")}
    q = {
        "from": "a",
        "joins": [{"table": "b", "on": [["id", "fid"]]}],
        "columns": [{"name": "id", "expr": "id"}],
    }
    with pytest.raises(SpecValidationError, match="collision"):
        compile_json_query(spark, q, lambda n: reg[n])


def test_agg_validation_accumulates(spark, tables):
    """Missing arg / unknown arg / unknown group_by key all land in ONE
    SpecValidationError instead of raw TypeError/AnalysisException."""
    q = {
        "from": "friend",
        "columns": [{"name": "g", "expr": "grade"}],
        "group_by": ["g", "typo_dim"],
        "aggs": [
            {"name": "s", "fn": "sum"},
            {"name": "t", "fn": "sum", "arg": "typo_col"},
        ],
    }
    with pytest.raises(SpecValidationError) as ei:
        compile_json_query(spark, q, tables)
    msg = str(ei.value)
    assert "requires 'arg'" in msg
    assert "typo_col" in msg and "typo_dim" in msg


def test_nested_fn_arg_scope_checked(spark, tables):
    q = {
        "from": "friend",
        "columns": [
            {"name": "x", "fn": "upper", "args": [{"expr": "typo"}]}
        ],
    }
    with pytest.raises(SpecValidationError, match="not in scope"):
        compile_json_query(spark, q, tables)


def test_missing_columns_selects_whole_scope(spark, tables):
    out = compile_json_query(spark, {"from": "friend", "take": 3}, tables)
    assert set(out.columns) == {"id", "name", "nick", "age", "grade"}
    assert out.count() == 3


def test_empty_columns_list_is_an_error(spark, tables):
    with pytest.raises(SpecValidationError, match="at least one column"):
        compile_json_query(spark, {"from": "friend", "columns": []}, tables)


def test_insert_literal_rows_date_decimal(spark, tmp_path):
    """JSON write verbs must accept date/timestamp/decimal targets —
    JSON carries them as strings; the carrier-cast path makes that
    work instead of createDataFrame TypeErrors."""
    import datetime
    import decimal

    from ubw_spark.core.jsonquery import compile_json_write

    target = spark.createDataFrame(
        [(1, datetime.date(2020, 1, 1), decimal.Decimal("10.50"))],
        "id bigint, d date, amt decimal(10,2)",
    )
    verb, out = compile_json_write(
        spark,
        {
            "verb": "insert",
            "into": "t",
            "rows": [{"id": 2, "d": "1996-01-02", "amt": "17954.55"}],
        },
        lambda n: target,
    )
    assert verb == "insert"
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {2}
    assert rows[2]["d"] == datetime.date(1996, 1, 2)
    assert rows[2]["amt"] == decimal.Decimal("17954.55")


def test_semi_anti_join_ignores_right_collisions(spark, friend_df):
    """Semi/anti joins are pure left-side filters: a same-named right
    column is NOT a collision (it never reaches the output), and right
    columns must NOT enter later scope."""
    reg = {
        "a": friend_df,
        "b": friend_df.where(F.col("grade") >= 5),  # identical schema
    }
    q = {
        "from": "a",
        "joins": [{"table": "b", "on": [["id", "id"]], "how": "left_semi"}],
        "columns": [{"name": "id", "expr": "id"}, {"name": "grade", "expr": "grade"}],
        "orders": [["id", False]],
    }
    out = compile_json_query(spark, q, lambda n: reg[n])
    assert out.columns == ["id", "grade"]
    assert all(r["grade"] >= 5 for r in out.collect())

    anti = dict(q)
    anti["joins"] = [{"table": "b", "on": [["id", "id"]], "how": "anti"}]
    out2 = compile_json_query(spark, anti, lambda n: reg[n])
    assert all(r["grade"] < 5 for r in out2.collect())


def test_semi_join_right_columns_not_in_scope(spark, friend_df):
    """A later reference to a semi-joined table's column is a compile
    error (it would otherwise die at Spark analysis)."""
    reg = {
        "a": friend_df.select("id", "grade"),
        "b": friend_df.select(F.col("id"), F.col("nick").alias("only_b")),
    }
    q = {
        "from": "a",
        "joins": [{"table": "b", "on": [["id", "id"]], "how": "left_semi"}],
        "columns": [{"name": "x", "expr": "only_b"}],
    }
    with pytest.raises(SpecValidationError, match="only_b.*not in scope"):
        compile_json_query(spark, q, lambda n: reg[n])


def test_unknown_join_how_is_an_error(spark, tables):
    q = {
        "from": "friend",
        "joins": [{"table": "grades", "on": [["grade", "g"]], "how": "sideways"}],
        "columns": [{"name": "id", "expr": "id"}],
    }
    with pytest.raises(SpecValidationError, match="unknown how 'sideways'"):
        compile_json_query(spark, q, tables)


def test_count_star_agg(spark, tables):
    """SQL count(*) spelling: arg '*' on count is a row count, exempt
    from the projected-column rule."""
    q = {
        "from": "friend",
        "columns": [{"name": "g", "expr": "grade"}],
        "group_by": ["g"],
        "aggs": [{"name": "n", "fn": "count", "arg": "*"}],
        "orders": [["g", False]],
    }
    out = compile_json_query(spark, q, tables)
    assert [tuple(r) for r in out.collect()] == [
        tuple(r)
        for r in compile_json_query(
            spark,
            {
                "from": "friend",
                "columns": [{"name": "g", "expr": "grade"}],
                "group_by": ["g"],
                "aggs": [{"name": "n", "fn": "count"}],
                "orders": [["g", False]],
            },
            tables,
        ).collect()
    ]


def test_count_star_only_for_count(spark, tables):
    q = {
        "from": "friend",
        "columns": [{"name": "g", "expr": "grade"}],
        "group_by": ["g"],
        "aggs": [{"name": "s", "fn": "sum", "arg": "*"}],
    }
    with pytest.raises(SpecValidationError, match="projected column"):
        compile_json_query(spark, q, tables)


def test_outer_join_spelling_variants_all_guarded(spark, friend_df):
    """EVERY right-preserving spelling the vocabulary accepts must hit
    the same-named-key guard — 'right_outer'/'rightouter'/'fullouter'
    previously slipped past the ('right','full','outer','full_outer')
    tuple and silently dropped the right key copy (NULL keys for every
    right-only row)."""
    reg = {
        "a": friend_df.select("id", "nick"),
        "b": friend_df.select("id", "age"),
    }
    for how in (
        "right", "right_outer", "rightouter",
        "full", "full_outer", "fullouter", "outer",
    ):
        q = {
            "from": "a",
            "joins": [{"table": "b", "on": [["id", "id"]], "how": how}],
            "columns": [{"name": "id", "expr": "id"}],
        }
        with pytest.raises(SpecValidationError, match="cannot be dropped"):
            compile_json_query(spark, q, lambda n: reg[n])


def test_unknown_how_does_not_cascade_scope_errors(spark, tables):
    """A typo'd 'how' must report ONE error, not a spurious
    not-in-scope error for every later reference to the joined table's
    columns (the broken-join scope convention)."""
    q = {
        "from": "friend",
        "joins": [{"table": "grades", "on": [["grade", "g"]], "how": "lefty"}],
        "columns": [{"name": "letter", "expr": "letter"}],
    }
    with pytest.raises(SpecValidationError) as ei:
        compile_json_query(spark, q, tables)
    msg = str(ei.value)
    assert "unknown how 'lefty'" in msg
    assert "not in scope" not in msg


def test_literal_frame_matches_createdataframe_values(spark):
    from ubw_spark.functions.literals import literal_frame

    schema = (
        "a bigint, b int, c double, d string, e boolean, "
        "f timestamp, g date, h array<double>, i float"
    )
    rows = [
        (
            1, 2, 0.1, "plain", True,
            datetime.datetime(2024, 5, 5, 6, 7, 8),
            datetime.date(2024, 5, 5), [1.5, -2.25], 0.5,
        ),
        (
            -9, None, 1e-05, "quo'te\\back\nline", False,
            datetime.datetime(2031, 1, 2, 3, 4, 5),
            datetime.date(2031, 1, 2), [], None,
        ),
        (None, 0, None, None, None, None, None, None, 3.25),
    ]
    fast = literal_frame(spark, rows, schema)
    slow = spark.createDataFrame(rows, schema)
    assert fast.schema == slow.schema
    assert sorted(map(repr, fast.collect())) == sorted(
        map(repr, slow.collect())
    )


def test_literal_frame_plans_without_python_scan(spark):
    from ubw_spark.functions.literals import literal_frame
    from ubw_spark.plans import formatted_plan

    df = literal_frame(spark, [(1, "x")], "k bigint, v string")
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" not in plan


def test_literal_frame_falls_back_for_unsupported(spark):
    from ubw_spark.functions.literals import literal_frame

    # map type has no literal rendering → createDataFrame fallback
    df = literal_frame(
        spark, [({"a": 1},)], "m map<string,int>"
    )
    assert df.collect()[0]["m"] == {"a": 1}
    # empty rows keep the schema
    empty = literal_frame(spark, [], "k bigint")
    assert empty.count() == 0 and empty.columns == ["k"]
