"""End-to-end golden tests G1-G9 from FIXTURES.md (reference sample
behavior: doc-02.md:96-169, doc-03.md:11-61, Sample04/05/06/07/09)."""

from pyspark.sql import functions as F

from ubw_spark import ColumnSpec, QuerySpec, QueryParams, apply_params, to_view
from ubw_spark.functions import derive, when_present, nested_struct

# Sample05 declaration (Sample05.scala:24-33): id orderable+described,
# name redirects sort to nick, nick orderable, age renamed ageOpt.
SPEC = QuerySpec(
    [
        ColumnSpec("id", orderable=True, describe="自增主键"),
        ColumnSpec("name", order_target="nick", describe="昵称"),
        ColumnSpec("nick", orderable=True, describe="昵称"),
        ColumnSpec("ageOpt", expr="age", orderable=True),
    ]
)


def rows_of(view):
    return view["data"]


def test_g1_projection_rename(friend_df):
    df = apply_params(friend_df, SPEC, QueryParams(orders=[("id", False)]))
    view = to_view(df, SPEC)
    assert rows_of(view) == [
        {"id": 1, "name": "魔理沙", "nick": "小莎莎", "ageOpt": 2333},
        {"id": 2, "name": "jilen", "nick": "jilen 酱", "ageOpt": 30},
        {"id": 3, "name": "品神", "nick": "kerr", "ageOpt": 28},
        {"id": 4, "name": "廖师虎", "nick": "shihu", "ageOpt": None},
    ]


def test_g2_properties_catalog(friend_df):
    df = apply_params(friend_df, SPEC)
    props = to_view(df, SPEC)["properties"]
    assert props == [
        {"property": "id", "typeName": "bigint", "inRetrieve": True,
         "canOrder": True, "isDefaultDesc": True, "describe": "自增主键"},
        {"property": "name", "typeName": "string", "inRetrieve": True,
         "canOrder": False, "isDefaultDesc": True, "describe": "昵称"},
        {"property": "nick", "typeName": "string", "inRetrieve": True,
         "canOrder": True, "isDefaultDesc": True, "describe": "昵称"},
        {"property": "ageOpt", "typeName": "int", "inRetrieve": True,
         "canOrder": True, "isDefaultDesc": True, "describe": None},
    ]


def test_g2_properties_catalog_under_select(friend_df):
    # columns the request's select dropped are not in the retrieve set
    df = apply_params(friend_df, SPEC, QueryParams(select=["id"]))
    props = to_view(df, SPEC)["properties"]
    assert [(p["property"], p["typeName"], p["inRetrieve"]) for p in props] == [
        ("id", "bigint", True),
        ("name", "unknown", False),
        ("nick", "unknown", False),
        ("ageOpt", "unknown", False),
    ]


G3_ORDERS = [("name", True), ("id", False), ("ageOpt2", False)]
# name→nick redirect; id asc; "ageOpt2" unknown → dropped.  Effective SQL
# per doc-02.md:130: ORDER BY id ASC NULLS LAST, nick DESC NULLS LAST
# (declaration order: id before nick).


def test_g3_dynamic_order_redirect_and_ignore(friend_df):
    df = apply_params(friend_df, SPEC, QueryParams(orders=G3_ORDERS))
    ids = [r["id"] for r in rows_of(to_view(df, SPEC))]
    assert ids == [1, 2, 3, 4]  # id asc dominates (declaration order)


def test_g3_declaration_order_of_keys(friend_df):
    # nick desc requested BEFORE id asc — declaration order still puts
    # id first (doc-02.md:130 emits id, then nick).
    df = apply_params(
        friend_df, SPEC, QueryParams(orders=[("nick", True), ("id", False)])
    )
    ids = [r["id"] for r in rows_of(to_view(df, SPEC))]
    assert ids == [1, 2, 3, 4]


def test_g4_pruning_with_hidden_sort_keys(friend_df):
    spec = QuerySpec(
        [
            ColumnSpec("id", orderable=True, visible=False),
            ColumnSpec("name", order_target="nick"),
            ColumnSpec("nick", orderable=True, visible=False),
            ColumnSpec("ageOpt", expr="age"),
        ]
    )
    df = apply_params(friend_df, spec, QueryParams(orders=G3_ORDERS))
    view = to_view(df, spec)
    assert rows_of(view) == [
        {"name": "魔理沙", "ageOpt": 2333},
        {"name": "jilen", "ageOpt": 30},
        {"name": "品神", "ageOpt": 28},
        {"name": "廖师虎", "ageOpt": None},
    ]
    assert df.columns == ["name", "ageOpt"]


def test_g5_derived_with_null_fallback(friend_df):
    # Sample07.scala:37-53: name = if age<200 present: "{name}-{nick}"
    # elif name present: name else NULL.
    derived_name = derive(
        [
            (
                when_present("name", "nick", "age") & (F.col("age") < 200),
                F.concat_ws("-", F.col("name"), F.col("nick")),
            ),
            (when_present("name"), F.col("name")),
        ]
    )
    spec = QuerySpec(
        [
            ColumnSpec("id", orderable=True),
            ColumnSpec("name", expr=derived_name),
            ColumnSpec("ageOpt", expr="age"),
        ]
    )
    df = apply_params(friend_df, spec, QueryParams(orders=[("id", False)]))
    assert rows_of(to_view(df, spec)) == [
        {"id": 1, "name": "魔理沙", "ageOpt": 2333},
        {"id": 2, "name": "jilen-jilen 酱", "ageOpt": 30},
        {"id": 3, "name": "品神-kerr", "ageOpt": 28},
        {"id": 4, "name": "廖师虎", "ageOpt": None},
    ]


def test_g6_nested_struct_variant(friend_df):
    # Sample07.scala:71-126 — struct-valued derived column with a
    # message fallback.  (Union of two struct shapes in the reference's
    # dynamic JSON collapses to one struct type with null-absent fields;
    # the message variant is checked via its own column here.)
    name_derived = derive(
        [
            (
                when_present("name", "nick", "age") & (F.col("age") < 200),
                F.concat_ws("-", F.col("name"), F.col("nick")),
            ),
            (when_present("name"), F.col("name")),
        ]
    )
    info = derive(
        [
            (
                when_present("age"),
                nested_struct(
                    id=F.col("id"),
                    accountInfo=nested_struct(
                        name=name_derived, age=F.col("age")
                    ),
                    ageOpt=F.col("age"),
                ),
            )
        ]
    )
    message = derive(
        [
            (
                ~when_present("age"),
                F.concat(F.lit("id为"), F.col("id"), F.lit("的不知名人事")),
            )
        ]
    )
    spec = QuerySpec(
        [
            ColumnSpec("id", orderable=True),
            ColumnSpec("info", expr=info),
            ColumnSpec("message", expr=message),
            ColumnSpec("ageOpt", expr="age", orderable=True),
        ]
    )
    df = apply_params(friend_df, spec, QueryParams(orders=[("id", False)]))
    data = rows_of(to_view(df, spec))
    assert data[2]["info"] == {
        "id": 3,
        "accountInfo": {"name": "品神-kerr", "age": 28},
        "ageOpt": 28,
    }
    assert data[3]["info"] is None
    assert data[3]["message"] == "id为4的不知名人事"
    assert data[0]["info"]["accountInfo"]["name"] == "魔理沙"


FILTER_SPEC = QuerySpec(
    [
        ColumnSpec("id", orderable=True),
        ColumnSpec("name", filterable=True, likeable=True),
        ColumnSpec("nick", filterable=True, likeable=True),
        ColumnSpec("ageOpt", expr="age", filterable=True),
    ]
)


def test_g7_dynamic_filter_like(friend_df):
    df = apply_params(
        friend_df,
        FILTER_SPEC,
        QueryParams(filters={"name": {"like": "%魔%"}}, orders=[("id", False)]),
    )
    assert [r["id"] for r in rows_of(to_view(df, FILTER_SPEC))] == [1]


def test_g7_empty_and_unknown_filters_ignored(friend_df):
    for filters in [
        {},
        {"unknowncol": {"eq": 1}},  # unknown column
        {"name": {"unknownop": "x"}},  # unknown operator
        {"id": {"eq": 1}},  # id not filterable → ignored
    ]:
        df = apply_params(
            friend_df, FILTER_SPEC, QueryParams(filters=filters)
        )
        assert df.count() == 4, filters


def test_g7_derived_with_default(friend_df):
    # Sample09.scala:35-40: ageOpt1111 = age + 2 when present else 1122.
    spec = QuerySpec(
        [
            ColumnSpec("id", orderable=True),
            ColumnSpec(
                "ageOpt1111",
                expr=derive([(when_present("age"), F.col("age") + 2)], 1122),
            ),
        ]
    )
    df = apply_params(friend_df, spec, QueryParams(orders=[("id", False)]))
    assert [r["ageOpt1111"] for r in rows_of(to_view(df, spec))] == [
        2335, 32, 30, 1122,
    ]


def test_g8_optional_predicate_conjunction(friend_df):
    # Sample04.scala:7-16 via the filter dict: absent param → no filter.
    spec = QuerySpec(
        [
            ColumnSpec("id"),
            ColumnSpec("age", filterable=True),
            ColumnSpec("grade", filterable=True),
        ]
    )

    def run(age, grade):
        filters = {}
        if age is not None:
            filters["age"] = {"eq": age}
        if grade is not None:
            filters["grade"] = {"eq": grade}
        return apply_params(friend_df, spec, QueryParams(filters=filters)).count()

    assert run(None, None) == 4
    assert run(30, None) == 1
    assert run(30, 4) == 1
    assert run(30, 5) == 0


def test_g9_paging(friend_df):
    base = QueryParams(orders=[("id", False)])
    df = apply_params(
        friend_df, SPEC, QueryParams(orders=base.orders, drop=1, take=2)
    )
    assert [r["id"] for r in rows_of(to_view(df, SPEC))] == [2, 3]
    df = apply_params(
        friend_df, SPEC,
        QueryParams(orders=base.orders, page_index=2, page_size=2),
    )
    assert [r["id"] for r in rows_of(to_view(df, SPEC))] == [3, 4]


def test_render_decimal_is_json_serializable(spark):
    import json

    from ubw_spark.core.spec import ColumnSpec, QuerySpec
    from ubw_spark.render import to_view

    df = spark.createDataFrame(
        [(1, "17954.55")], "id bigint, amt string"
    ).select("id", F.col("amt").cast("decimal(12,2)").alias("amt"))
    view = to_view(df, QuerySpec([ColumnSpec("id"), ColumnSpec("amt")]))
    dumped = json.loads(json.dumps(view))
    assert dumped["data"][0]["amt"] == 17954.55
