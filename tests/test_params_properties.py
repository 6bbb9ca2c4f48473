"""Property-based tests for the param layer (SURVEY §5c): random
order/filter/paging dicts never crash, unknown keys are no-ops, paging
partitions the sorted result."""

import gc
import weakref

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ubw_spark import ColumnSpec, QueryParams, QuerySpec, apply_params
from ubw_spark.core import spec as spec_mod
from ubw_spark.core.errors import SpecValidationError
from ubw_spark.params import validate_params

SPEC = QuerySpec(
    [
        ColumnSpec("id", orderable=True, filterable=True),
        ColumnSpec("name", order_target="nick"),
        ColumnSpec("nick", orderable=True, filterable=True, likeable=True),
        ColumnSpec("ageOpt", expr="age", filterable=True),
    ]
)

col_names = st.sampled_from(["id", "name", "nick", "ageOpt", "bogus", "", "grade"])
ops = st.sampled_from(["eq", "ne", "gt", "lt", "like", "in", "zzz", ""])
operands = st.one_of(
    st.integers(-5, 5000),
    st.text(max_size=5),
    st.lists(st.integers(0, 10), max_size=3),
)

orders_strategy = st.lists(
    st.one_of(col_names, st.tuples(col_names, st.booleans())), max_size=5
)
filters_strategy = st.dictionaries(
    col_names, st.dictionaries(ops, operands, max_size=3), max_size=3
)


#: Arbitrary JSON values: None, bools, ints (negative, 0, 2**64), NaN,
#: one-letter strings, and lists and objects nesting them.
_json = st.recursive(
    st.one_of(
        st.none(), st.booleans(), st.integers(-3, 3), st.just(2**64),
        st.just(float("nan")), st.text(max_size=1), col_names,
    ),
    lambda kids: st.one_of(
        st.lists(kids, max_size=3), st.dictionaries(st.text(max_size=1), kids, max_size=2)
    ),
    max_leaves=6,
)
_page_field = st.one_of(st.none(), st.none(), st.integers(-1, 5), _json)
_shape = st.fixed_dictionaries(
    {},
    optional={
        "orders": st.one_of(orders_strategy, _json, st.lists(
            st.one_of(col_names, st.tuples(col_names, _json), _json), max_size=3
        )),
        "filters": st.one_of(filters_strategy, _json, st.dictionaries(
            col_names,
            st.one_of(_json, st.dictionaries(ops, st.one_of(operands, _json), max_size=2)),
            max_size=2,
        )),
        "select": st.one_of(col_names, st.lists(col_names, max_size=3), _json,
                            st.lists(st.one_of(col_names, _json), max_size=3)),
    },
)
_paging = st.fixed_dictionaries(
    {},
    optional={
        "drop": _page_field,
        "take": _page_field,
        "page_index": _page_field,
        "page_size": _page_field,
        "after_key": st.one_of(
            st.none(), st.none(), st.none(), _json,
            st.dictionaries(col_names, _json, max_size=2),
        ),
    },
)
# half the requests carry no paging or cursor key, so they reach the
# orders/filters/select rules instead of a paging fault
_request = st.builds(
    lambda shape, paging, paged: {**shape, **paging} if paged else shape,
    _shape, _paging, st.booleans(),
)
_PAGING = ("drop", "take", "page_index", "page_size", "after_key")
#: The keyset ValueErrors, the one loud contract outside SpecValidationError.
_KEYSET = ("mutually exclusive", "exactly the effective sort", "requires orders",
           "not coercible")


def _without_malformed(req: dict) -> tuple[dict, int]:
    """The documented contract restated: ``req`` without its malformed
    orders, filters and select entries, and how many it had."""
    clean, dropped = dict(req), 0

    def keep(key, ok):
        nonlocal dropped
        v = req.get(key)
        if v is None:
            return
        v = [v] if isinstance(v, str) else v
        if not isinstance(v, (list, tuple)):
            clean[key], dropped = [], dropped + 1
            return
        clean[key] = [e for e in v if ok(e)]
        dropped += len(v) - len(clean[key])

    keep("orders", lambda o: isinstance(o, str) or (
        isinstance(o, (list, tuple)) and len(o) == 2 and isinstance(o[0], str)
        and (o[1] is None or (type(o[1]) in (bool, int) and o[1] in (0, 1)))
    ))
    keep("select", lambda n: isinstance(n, str))
    f = req.get("filters")
    if f is not None:
        clean["filters"] = {k: v for k, v in f.items() if isinstance(v, dict)} \
            if isinstance(f, dict) else {}
        dropped += len(f) - len(clean["filters"]) if isinstance(f, dict) else 1
    return clean, dropped


def _outcome(run, req: dict):
    """``run(req)``'s rows, or None when it raised one of the two loud
    contracts: a SpecValidationError naming only paging keys (``drop/take``
    names both), or a documented keyset ValueError."""
    try:
        return run(req)
    except SpecValidationError as e:
        named = [k for p in e.problems for k in p.split(":")[0].split("/")]
        assert set(named) <= set(_PAGING), e.problems
    except ValueError as e:
        assert any(m in str(e) for m in _KEYSET), e
    return None


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(req=_request)
def test_random_params_never_crash(spark, friend_df, req):
    """RAW junk from a JSON layer in every request key, through the
    Python constructor, a JSON read and the update verb's filters.  A
    malformed orders/filters/select entry is left out exactly and
    reported; a malformed page or cursor raises SpecValidationError
    naming the key (or a keyset ValueError).  Nothing else escapes and
    no Spark job fails."""
    from ubw_spark.core.jsonquery import compile_json_query, compile_json_write

    clean, dropped = _without_malformed(req)
    tables = {"friend": friend_df}.__getitem__
    # Row equality ignores names: the schema is checked on its own, the
    # visible columns in declaration order, cut to a non-empty select
    sel = clean.get("select")
    want_cols = [c for c in ("id", "name", "nick", "ageOpt") if not sel or c in sel]

    def py(r):
        p = QueryParams(**r)
        for k in ("drop", "take", "page_index", "page_size"):
            assert getattr(p, k) is None or type(getattr(p, k)) is int
        df = apply_params(friend_df, SPEC, p)
        assert df.columns == want_cols
        return p, df.collect()

    got = _outcome(py, req)
    if got is not None:
        p, rows = got
        assert len(rows) <= 4 and len(p.problems) == dropped
        want, want_rows = py(clean) if dropped else (p, rows)
        assert rows == want_rows
        assert validate_params(SPEC, p) == list(p.problems) + validate_params(SPEC, want)
        # ... and cold: the memo hands back the plan a fresh projection builds
        spec_mod._FRAME_MEMO.clear()
        assert apply_params(friend_df, SPEC, p).collect() == rows

    def js(r):
        q = {"from": "friend", **{k: v for k, v in r.items() if k != "select"}}
        df = compile_json_query(spark, q, tables)
        assert df.columns == friend_df.columns  # no "columns" block: whole scope
        return df.collect()

    rows = _outcome(js, req)
    assert rows is None or not dropped or rows == js(clean)

    try:
        _, out = compile_json_write(spark, {
            "verb": "update", "target": "friend", "filters": req.get("filters"),
            "assign": {"age": {"lit": 0}},
        }, tables)
    except SpecValidationError as e:
        assert all(p.startswith("update.filters") for p in e.problems), e.problems
    else:
        assert out.count() == 4


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(page_size=st.integers(1, 5))
def test_paging_partitions_sorted_result(spark, friend_df, page_size):
    """Union of all pages == full sorted result, no dupes, no gaps."""
    base = QueryParams(orders=[("id", False)])
    full = [
        r["id"]
        for r in apply_params(friend_df, SPEC, base).collect()
    ]
    paged = []
    page = 1
    while True:
        p = QueryParams(
            orders=[("id", False)], page_index=page, page_size=page_size
        )
        chunk = [r["id"] for r in apply_params(friend_df, SPEC, p).collect()]
        if not chunk:
            break
        paged.extend(chunk)
        page += 1
        if page > 10:
            break
    assert paged == full


def test_unknown_keys_are_exact_noops(spark, friend_df):
    """Adding unknown order/filter keys must not change the result."""
    clean = apply_params(
        friend_df, SPEC, QueryParams(orders=[("id", False)])
    ).collect()
    noisy = apply_params(
        friend_df,
        SPEC,
        QueryParams(
            orders=[("bogus", True), ("id", False), ("", False)],
            filters={"bogus": {"eq": 1}, "name": {"zzz": 2}},
        ),
    ).collect()
    assert clean == noisy


# ---------------------------------------------------------------- keyset


KEYSET_SPEC = QuerySpec(
    [
        ColumnSpec("age", orderable=True, default_desc=True),
        ColumnSpec("id", orderable=True),
        ColumnSpec("name"),
    ]
)
_ORDERS = [("age", True), ("id", False)]


def _page(df, after=None, take=2, **kw):
    return apply_params(
        df, KEYSET_SPEC,
        QueryParams(orders=_ORDERS, after_key=after, take=take, **kw),
    ).collect()


def test_keyset_pages_equal_offset_pages(spark, friend_df):
    """Walking the whole relation by keyset cursor reproduces the
    offset paging row-for-row — including across the NULL-age row
    (NULLS LAST): the boundary predicate must admit NULL keys after
    any value and order ties by the unique id tiebreak."""
    full = apply_params(
        friend_df, KEYSET_SPEC, QueryParams(orders=_ORDERS)
    ).collect()
    walked, after = [], None
    while True:
        page = _page(friend_df, after)
        if not page:
            break
        walked.extend(page)
        after = {"age": page[-1]["age"], "id": page[-1]["id"]}
    assert [tuple(r) for r in walked] == [tuple(r) for r in full]
    # a NULL boundary age: only deeper-tie rows may follow
    assert walked[-1]["age"] is None


def test_keyset_is_take_ordered_no_offset(spark, friend_df):
    """The page plan must be TakeOrderedAndProject with NO offset —
    the whole point of keyset paging is that page depth never enters
    the plan."""
    out = apply_params(
        friend_df, KEYSET_SPEC,
        QueryParams(orders=_ORDERS, after_key={"age": 30, "id": 2}, take=2),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "offset=" not in plan.lower().replace("offset= ", "offset=")


def test_keyset_rejects_partial_boundary_and_offset_mix(spark, friend_df):
    with pytest.raises(ValueError, match="exactly the effective sort"):
        _page(friend_df, {"age": 30})
    with pytest.raises(ValueError, match="mutually exclusive"):
        _page(friend_df, {"age": 30, "id": 2}, drop=2)
    with pytest.raises(ValueError, match="requires orders"):
        apply_params(
            friend_df, KEYSET_SPEC,
            QueryParams(after_key={"age": 30, "id": 2}, take=2),
        ).collect()


def test_keyset_all_null_boundary_is_terminal(spark, friend_df):
    """A boundary row whose keys are all NULL is the true end of a
    NULLS-LAST order (when the tiebreak is also exhausted): the next
    page must be empty, not an error."""
    one_null = friend_df.where(F.col("id") == 4).withColumn(
        "id", F.lit(None).cast("bigint")
    )
    assert _page(one_null, {"age": None, "id": None}) == []


# ------------------------------------------------- keyset × redirect fuzz
#
# The param layer's trickiest interaction (VERDICT r10 #6): after_key +
# orderTarget redirect + hidden sort keys + NULL boundaries.  SPY and
# HIDDEN share declarations except rank's visibility, so SPY pages can
# supply boundary values that HIDDEN's caller could never read off a page.

_FUZZ_SCHEMA = "age bigint, label string, rank bigint, id bigint, name string"
_FUZZ_ROWS = [
    (30, "a", 5, 1, "n1"),
    (30, "b", None, 2, "n2"),
    (None, "c", 2, 3, "n3"),
    (12, "d", 2, 4, "n4"),
    (12, "e", 7, 5, "n5"),
    (None, "f", None, 6, "n6"),
    (44, "g", 5, 7, "n7"),
    (44, "h", 5, 8, "n8"),
    (30, "i", 5, 9, "n9"),
]


def _fuzz_specs():
    cols = lambda vis: [  # noqa: E731
        ColumnSpec("age", orderable=True, filterable=True),
        ColumnSpec("label", order_target="rank"),
        ColumnSpec("rank", orderable=True, visible=vis),
        ColumnSpec("id", orderable=True),
        ColumnSpec("name"),
    ]
    return QuerySpec(cols(True)), QuerySpec(cols(False))


_fuzz_keys = st.sampled_from(["age", "label", "rank", "id", "name", "bogus"])
_fuzz_orders = st.lists(
    st.tuples(_fuzz_keys, st.booleans()), min_size=0, max_size=4
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(orders=_fuzz_orders, take=st.integers(1, 4))
def test_keyset_fuzz_pages_partition_redirected_order(spark, orders, take):
    """For ANY random order request (redirects, hidden keys, unknown and
    non-orderable names, NULL-heavy sort values), walking the keyset
    cursor reproduces the unpaged result exactly — no dup, no gap, no
    crash — and the hidden-rank variant returns the same rows minus the
    hidden column (hidden sort keys stay live)."""
    from ubw_spark.params import _resolve

    spy_spec, hidden_spec = _fuzz_specs()
    df = spark.createDataFrame(_FUZZ_ROWS, _FUZZ_SCHEMA)
    orders = list(orders) + [("id", False)]  # unique tiebreak => total order
    keys = _resolve(spy_spec, QueryParams(orders=orders), None)[0]
    eff = [s.name for s, _ in keys]

    full = apply_params(df, spy_spec, QueryParams(orders=orders)).collect()
    walked, after = [], None
    for _ in range(len(_FUZZ_ROWS) + 2):
        page = apply_params(
            df, spy_spec,
            QueryParams(orders=orders, after_key=after, take=take),
        ).collect()
        if not page:
            break
        walked.extend(page)
        after = {n: page[-1][n] for n in eff}
    assert [tuple(r) for r in walked] == [tuple(r) for r in full]

    hidden_full = apply_params(
        df, hidden_spec, QueryParams(orders=orders)
    ).collect()
    vis = [c.name for c in hidden_spec.visible_columns()]
    assert [tuple(r) for r in hidden_full] == [
        tuple(r[n] for n in vis) for r in full
    ]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    boundary=st.dictionaries(
        _fuzz_keys,
        st.one_of(st.none(), st.integers(-5, 50), st.text(max_size=3)),
        max_size=3,
    ),
    take=st.integers(1, 3),
)
def test_keyset_fuzz_junk_boundary_valueerror_or_valid_page(
    spark, boundary, take
):
    """A random after_key dict either raises the documented ValueError
    (wrong names, un-coercible values) or returns a well-formed page —
    never an AnalysisException or an ANSI cast failure mid-job."""
    spy_spec, _ = _fuzz_specs()
    df = spark.createDataFrame(_FUZZ_ROWS, _FUZZ_SCHEMA)
    try:
        rows = apply_params(
            df, spy_spec,
            QueryParams(
                orders=[("age", True), ("id", False)],
                after_key=boundary, take=take,
            ),
        ).collect()
    except ValueError:
        return  # the documented loud contract
    assert len(rows) <= take


def test_keyset_boundary_values_coerce_like_filters(spark):
    """JSON-layer boundary values: a numeric string coerces, junk text
    raises the loud ValueError (not an opaque ANSI cast error)."""
    spy_spec, _ = _fuzz_specs()
    df = spark.createDataFrame(_FUZZ_ROWS, _FUZZ_SCHEMA)
    base = dict(orders=[("age", False), ("id", False)], take=3)
    want = apply_params(
        df, spy_spec, QueryParams(after_key={"age": 30, "id": 2}, **base)
    ).collect()
    got = apply_params(
        df, spy_spec,
        QueryParams(after_key={"age": "30", "id": "2"}, **base),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    with pytest.raises(ValueError, match="not coercible"):
        apply_params(
            df, spy_spec,
            QueryParams(after_key={"age": "zz", "id": 2}, **base),
        ).collect()


def test_boundary_coercion_temporal_and_decimal_exactness():
    """code-review r11: the boundary coercer's two remaining holes —
    (a) date/timestamp STRING boundaries must PARSE, not pass on
    any-non-empty-string (a junk cursor becomes col > lit('zz'): an
    ANSI CAST_INVALID_INPUT mid-job, or with ANSI off a silently empty
    page forever); (b) decimal string cursors must not round through
    float() — above 2^53 that pages from the wrong row."""
    import datetime
    import decimal

    from ubw_spark.params import _coerce

    ok, v = _coerce("date", "zz")
    assert not ok
    ok, v = _coerce("date", "2024-02-03")
    assert ok and v == datetime.date(2024, 2, 3)
    ok, v = _coerce("timestamp", "2024-02-03T01:02:03")
    assert ok and v == datetime.datetime(2024, 2, 3, 1, 2, 3)
    ok, v = _coerce("timestamp", "not a time")
    assert not ok
    # native Row types still pass through untouched
    ok, v = _coerce("date", datetime.date(2020, 1, 1))
    assert ok and v == datetime.date(2020, 1, 1)
    # decimal string: exact, no float round-trip (2^53 + 1 survives)
    big = "9007199254740993"
    ok, v = _coerce("decimal(20,0)", big)
    assert ok and isinstance(v, decimal.Decimal) and int(v) == int(big)
    assert float(big) != int(big)  # the hazard the branch exists for
    ok, v = _coerce("decimal(20,2)", "12.34")
    assert ok and v == decimal.Decimal("12.34")


def test_keyset_rejects_page1_and_drop0_too(spark, friend_df):
    """code-review r9: page_index=1 / drop=0 compute to a ZERO offset
    but still declare offset paging — they must raise with after_key,
    not silently serve page 1 and defer the error to page 2."""
    for kw in ({"page_index": 1, "page_size": 2}, {"drop": 0}):
        with pytest.raises(ValueError, match="mutually exclusive"):
            apply_params(
                friend_df, KEYSET_SPEC,
                QueryParams(orders=_ORDERS,
                            after_key={"age": 30, "id": 2}, take=2, **kw),
            ).collect()


# ------------------------------------------------------ projection memo


def _analyzed_node_names(df):
    return [
        line.lstrip(" :+-").split(" ")[0]
        for line in df._jdf.queryExecution().analyzed().toString().splitlines()
    ]


def test_frame_memo_same_spec_same_frame(spark, friend_df):
    assert SPEC.frame(friend_df) is SPEC.frame(friend_df)
    assert SPEC.frame(friend_df, all_columns=True) is SPEC.frame(
        friend_df, all_columns=True
    )


def test_frame_memo_equal_specs_get_their_own_frames(spark, friend_df):
    a = QuerySpec([ColumnSpec("id"), ColumnSpec("ageOpt", expr="age")])
    b = QuerySpec([ColumnSpec("id"), ColumnSpec("ageOpt", expr="age")])
    c = QuerySpec([ColumnSpec("id"), ColumnSpec("ageOpt", expr="grade")])
    fa, fb, fc = a.frame(friend_df), b.frame(friend_df), c.frame(friend_df)
    assert fa is not fb
    assert [tuple(r) for r in fa.collect()] == [tuple(r) for r in fb.collect()]
    assert [r["ageOpt"] for r in fc.orderBy("id").collect()] == [3, 4, 5, 6]


def test_frame_memo_is_bounded_per_base_frame(spark, friend_df):
    # a caller minting a spec object per request must not grow the memo
    for _ in range(spec_mod._FRAME_MEMO_PER_DF + 3):
        QuerySpec([ColumnSpec("ageOpt", expr="age")]).frame(friend_df)
    assert len(spec_mod._FRAME_MEMO[friend_df]) == spec_mod._FRAME_MEMO_PER_DF


@pytest.mark.parametrize(
    "spec",
    [
        SPEC,  # projected: the memo holds the frame
        QuerySpec([ColumnSpec(c) for c in ("id", "name", "nick", "age", "grade")]),
    ],
    ids=["projected", "identity"],
)
def test_frame_memo_does_not_keep_base_alive(spark, spec):
    df = spark.createDataFrame(
        [(1, "a", "b", 2, 3)], "id bigint, name string, nick string, age int, grade int"
    )
    out = spec.frame(df, all_columns=True)
    assert (out is df) == (spec is not SPEC)
    ref = weakref.ref(df)
    del df, out
    gc.collect()
    assert ref() is None


def test_keyset_request_with_filters_has_one_filter_node(spark, friend_df):
    out = apply_params(
        friend_df, KEYSET_SPEC,
        QueryParams(orders=_ORDERS, after_key={"age": 30, "id": 2}, take=2),
    )
    assert _analyzed_node_names(out).count("Filter") == 1
    spec = QuerySpec([*KEYSET_SPEC.columns[:2], ColumnSpec("name", filterable=True)])
    out = apply_params(
        friend_df, spec,
        QueryParams(orders=_ORDERS, filters={"name": {"ne": "x"}},
                    after_key={"age": 30, "id": 2}, take=2),
    )
    assert _analyzed_node_names(out).count("Filter") == 1


# ------------------------------------------- one filter compiler, one coercion


_TYPED_SCHEMA = "big bigint, dec decimal(20,0), d date, ts timestamp"
_TYPED_SPEC = QuerySpec(
    [ColumnSpec(c, orderable=True, filterable=True) for c in ("big", "dec", "d", "ts")]
)


@pytest.fixture()
def typed_df(spark):
    import datetime
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (9007199254740992, Decimal("12345678901234567168"),
             datetime.date(2020, 6, 1), datetime.datetime(2020, 6, 1, 1, 2, 3)),
            (9007199254740993, Decimal("12345678901234567891"),
             datetime.date(2020, 6, 2), datetime.datetime(2020, 6, 2)),
        ],
        _TYPED_SCHEMA,
    )


def _big_values(df, filters):
    return sorted(
        r["big"]
        for r in apply_params(df, _TYPED_SPEC, QueryParams(filters=filters)).collect()
    )


@pytest.mark.parametrize(
    "filters, want",
    [
        ({"big": {"eq": "9007199254740993"}}, [9007199254740993]),
        ({"dec": {"eq": "12345678901234567891"}}, [9007199254740993]),
        # no JVM long holds 2^64: compared as a decimal, not a crash
        ({"big": {"lt": 2**64}}, [9007199254740992, 9007199254740993]),
    ],
)
def test_integer_and_decimal_operands_are_exact(spark, typed_df, filters, want):
    """A numeric string parses with int()/Decimal(), never float: above
    2^53 a float round trip lands on the neighbouring row."""
    assert _big_values(typed_df, filters) == want


@pytest.mark.parametrize("col", ["d", "ts"])
def test_junk_temporal_operand_is_an_exact_noop(spark, typed_df, col):
    """An operand that is no date or timestamp is an ignored filter
    (same rows as no filter), not a CAST_INVALID_INPUT mid-job."""
    assert _big_values(typed_df, {col: {"eq": "zz"}}) == _big_values(typed_df, {})
    assert validate_params(_TYPED_SPEC, QueryParams(filters={col: {"eq": "zz"}})) == []


def test_native_date_and_timestamp_string_on_date_column_apply(spark, typed_df):
    import datetime

    want = [9007199254740992]
    assert _big_values(typed_df, {"d": {"eq": datetime.date(2020, 6, 1)}}) == want
    assert _big_values(typed_df, {"d": {"eq": "2020-06-01 00:00:00"}}) == want


_U2_SPEC = QuerySpec(
    [
        ColumnSpec("id", orderable=True, filterable=True),
        ColumnSpec("name"),
        ColumnSpec("nick", order_target="missing", filterable=True),
        ColumnSpec("grade", orderable=True, filterable=True),
    ]
)
_U2_BASE = {"orders": [("id", True)], "filters": {"grade": {"ge": 4}}}

#: one request key per kind of ignored key: (extra orders, extra filters,
#: the problem's prefix)
_U2_CASES = [
    ([("bogus", False)], {}, "orders.bogus:"),  # unknown column
    ([("name", False)], {}, "orders.name:"),  # not orderable
    ([("nick", True)], {}, "orders.nick:"),  # redirect to an unknown target
    ([], {"bogus": {"eq": 1}}, "filters.bogus:"),  # unknown column
    ([], {"name": {"eq": "jilen"}}, "filters.name:"),  # not filterable
    ([], {"id": 3}, "filters.id:"),  # ops not a dict
    ([], {"id": {"zzz": 1}}, "filters.id:"),  # unknown op
    ([], {"nick": {"like": "k%"}}, "filters.nick:"),  # not likeable
]


def test_every_ignored_key_is_reported_and_exactly_ignored(spark, friend_df):
    """U2: validate_params names each key apply_params leaves out, and
    leaving it out is exact: the answer equals the request without it."""
    clean = apply_params(friend_df, _U2_SPEC, QueryParams(**_U2_BASE)).collect()
    assert [r["id"] for r in clean] == [4, 3, 2]
    for orders, filters, prefix in _U2_CASES:
        p = QueryParams(
            orders=_U2_BASE["orders"] + orders,
            filters={**_U2_BASE["filters"], **filters},
        )
        problems = validate_params(_U2_SPEC, p)
        assert len(problems) == 1 and problems[0].startswith(prefix), problems
        assert apply_params(friend_df, _U2_SPEC, p).collect() == clean, prefix


def test_bare_string_is_one_name(spark, friend_df):
    """``orders="id"`` orders by id (not by the keys 'i', 'd') and
    ``select="nick"`` keeps nick, as PySpark's orderBy/select read a
    bare string."""
    p = QueryParams(orders="id", select="nick")
    assert p.orders == (("id", None),) and p.select == ("nick",) and not p.problems
    rows = apply_params(friend_df, SPEC, p).collect()
    assert [tuple(r) for r in rows] == [("shihu",), ("kerr",), ("jilen 酱",), ("小莎莎",)]


@pytest.mark.parametrize(
    "kw, prefix",
    [
        ({"orders": [5]}, "orders[0]:"),
        ({"orders": [["id", "asc"]]}, "orders[0]:"),  # not bool("asc") = desc
        ({"orders": [["id", True, 1]]}, "orders[0]:"),
        ({"orders": [["id", 2]]}, "orders[0]:"),  # 0/1 only, not bool(2)
        ({"orders": 5}, "orders:"),
        ({"filters": ["a"]}, "filters:"),
        ({"select": [5, "id"]}, "select[0]:"),
    ],
)
def test_malformed_entry_is_dropped_and_reported(spark, friend_df, kw, prefix):
    """A malformed orders/filters/select entry is left out exactly and
    reported by validate_params, never a bare TypeError/ValueError."""
    p = QueryParams(**kw)
    (problem,) = validate_params(SPEC, p)
    assert problem.startswith(prefix), problem
    clean = {k: [e for e in v if isinstance(e, str)] if k == "select" else None
             for k, v in kw.items()}
    assert apply_params(friend_df, SPEC, p).collect() == apply_params(
        friend_df, SPEC, QueryParams(**clean)
    ).collect()


def test_zero_one_direction_reads_as_a_boolean(spark, friend_df):
    """JSON's 0/1 encoding of ``is_desc`` sorts as False/True."""
    assert QueryParams(orders=[["id", 1], ("nick", 0)]).orders == (
        ("id", True), ("nick", False))
    rows = apply_params(friend_df, SPEC, QueryParams(orders=[["id", 1]])).collect()
    assert [r["id"] for r in rows] == [4, 3, 2, 1]


@pytest.mark.parametrize(
    "kw, key",
    [
        ({"page_size": 10}, "page_size"),  # alone: used to serve everything
        ({"page_index": 2}, "page_index"),
        ({"page_index": 0, "page_size": 2}, "page_index"),
        ({"page_index": 1, "page_size": 2, "take": 3}, "page_index"),
        ({"take": "5"}, "take"),  # used to fail as a Py4JError in limit
        ({"take": True}, "take"),
        ({"drop": -3}, "drop"),  # used to fail as an AnalysisException
        ({"drop": 2**31 - 1, "take": 1}, "drop/take"),
        ({"take": 2**31}, "take"),  # names the key given, not drop
        ({"page_index": 2**30, "page_size": 2}, "page_index/page_size"),
        ({"after_key": "x"}, "after_key"),
    ],
)
def test_malformed_page_or_cursor_raises_naming_the_key(kw, key):
    with pytest.raises(SpecValidationError) as ei:
        QueryParams(**kw)
    assert ei.value.problems[0].startswith(f"{key}:"), ei.value.problems


@pytest.mark.parametrize("pattern", ["a\\", "\\x"])
def test_like_pattern_spark_refuses_is_an_ignored_operand(spark, friend_df, pattern):
    """A LIKE pattern with a dangling or stray escape is an operand that
    does not fit (the filter is ignored), not an AnalysisException."""
    p = QueryParams(filters={"nick": {"like": pattern}})
    assert apply_params(friend_df, SPEC, p).collect() == apply_params(
        friend_df, SPEC, QueryParams()
    ).collect()


def _parses_request_shape(node) -> bool:
    """An order-entry unpack (``(o, False) if isinstance(o, str) else
    ...``: a tuple built on an isinstance test) or a QueryParams built
    field by field from a dict (two or more ``d.get(k)``/``d[k]``
    keyword values)."""
    import ast

    if isinstance(node, ast.IfExp):
        test = node.test
        return (
            isinstance(test, ast.Call)
            and getattr(test.func, "id", None) == "isinstance"
            and any(
                isinstance(b, ast.Tuple)
                or (isinstance(b, ast.Call) and getattr(b.func, "id", None) == "tuple")
                for b in (node.body, node.orelse)
            )
        )
    if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "QueryParams":
        reads = [
            k for k in node.keywords
            if isinstance(k.value, ast.Subscript)
            or (isinstance(k.value, ast.Call) and getattr(k.value.func, "attr", None) == "get")
        ]
        return len(reads) >= 2
    return False


def test_one_filter_compiler():
    """No module under ubw_spark/ or examples/ but params.py reads the
    filter-op whitelist, defines an operand coercion or parses a
    request's shape, and params.py has one coercion: a second filter
    compiler or request parser cannot grow back."""
    import ast
    from pathlib import Path

    import ubw_spark.params as params_mod

    params_py = Path(params_mod.__file__).resolve()
    repo = params_py.parents[1]
    offenders, coercions = [], []
    for base in ("ubw_spark", "examples"):
        for f in sorted((repo / base).rglob("*.py")):
            for node in ast.walk(ast.parse(f.read_text())):
                if isinstance(node, ast.FunctionDef) and "coerce" in node.name:
                    if f == params_py:
                        coercions.append(node.name)
                    else:
                        offenders.append(f"{f.relative_to(repo)}:{node.lineno}")
                elif f != params_py and (
                    _parses_request_shape(node)
                    or "_FILTER_OPS" in (
                        getattr(node, "id", None),
                        getattr(node, "attr", None),
                        getattr(node, "name", None),
                    )
                ):
                    offenders.append(f"{f.relative_to(repo)}:{node.lineno}")
    assert not offenders, offenders
    assert coercions == ["_coerce"], coercions


def test_request_shape_guard_sees_the_old_copies():
    """The guard's two request-shape patterns, on the copies it deleted
    from core/jsonquery.py; a one-key QueryParams and a bare-name test
    that builds no tuple pass."""
    import ast

    def flagged(src):
        return any(_parses_request_shape(n) for n in ast.walk(ast.parse(src)))

    assert flagged("name, d = (o, False) if isinstance(o, str) else (o[0], bool(o[1]))")
    assert flagged("x = [tuple(o) if isinstance(o, list) else o for o in v]")
    assert flagged("QueryParams(drop=spec.get('drop'), take=spec['take'])")
    assert not flagged("QueryParams(filters=spec.get('filters'))")
    assert not flagged("c = F.col(c) if isinstance(c, str) else c")
