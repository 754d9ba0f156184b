"""Stage-4 unit tests (SURVEY.md §5: order/stoichiometry vs hand-computed;
symmetric-edge canonicalization; QA constraints)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.materialize import build_edges, qa_consistency, qa_uniqueness

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, span_start int, "
    "subj_id string, pred string, obj_id string"
)


def _edges(spark, rows):
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    return build_edges(df)


def test_stoichiometry_and_order_hand_computed(spark):
    # A mentions B twice then C once: stoichiometry 2/1, order 1/2
    # (ReactomeBatchImporter.java:630-655 semantics).
    rows = [
        ("c1", 0, 0, "A", "followed_by", "B"),
        ("c1", 1, 0, "A", "followed_by", "B"),
        ("c1", 2, 0, "A", "followed_by", "C"),
    ]
    got = {(r["src"], r["dst"]): (r["stoichiometry"], r["order"])
           for r in _edges(spark, rows).collect()}
    assert got == {("A", "B"): (2, 1), ("A", "C"): (1, 2)}


def test_order_is_first_appearance_not_count(spark):
    # C appears first (turn 0) but only once; B appears twice starting turn 1
    # → order: C=1, B=2 despite B's higher stoichiometry.
    rows = [
        ("c1", 0, 0, "A", "followed_by", "C"),
        ("c1", 1, 0, "A", "followed_by", "B"),
        ("c1", 2, 0, "A", "followed_by", "B"),
    ]
    got = {r["dst"]: r["order"] for r in _edges(spark, rows).collect()}
    assert got == {"C": 1, "B": 2}


def test_encoded_edges_hand_computed_order_ties(spark):
    """W1 order tiebreak on equal first_occ ranks by the dst STRING
    (case-sensitive sort: "Alpha" < "beta" < "gamma")."""
    rows = [
        # same (conv, turn, span) first_occ for all three dsts ⇒ order is
        # decided purely by dst string sort: Alpha < beta < gamma
        ("c1", 0, 0, "A", "followed_by", "gamma"),
        ("c1", 0, 0, "A", "followed_by", "Alpha"),
        ("c1", 0, 0, "A", "followed_by", "beta"),
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    got = {r["dst"]: r["order"] for r in build_edges(df).collect()}
    assert got == {"Alpha": 1, "beta": 2, "gamma": 3}


def test_symmetric_dedup_least_greatest(spark):
    # co_occurs_with is undirected: (B,A) and (A,B) collapse to one edge
    # under (least, greatest) — ReactomeBatchImporter.java:661-674.
    rows = [
        ("c1", 0, 0, "B", "co_occurs_with", "A"),
        ("c1", 1, 0, "A", "co_occurs_with", "B"),
    ]
    out = _edges(spark, rows).collect()
    assert len(out) == 1
    assert (out[0]["src"], out[0]["dst"], out[0]["stoichiometry"]) == ("A", "B", 2)


def test_direction_flip_produced_by(spark):
    # produced_by is stored reversed as produces (tool → mention) —
    # ReactomeBatchImporter.java:675-686 analog.
    rows = [("c1", 0, 0, "M", "produced_by", "tool:search")]
    out = _edges(spark, rows).collect()
    assert len(out) == 1
    assert (out[0]["src"], out[0]["rel_type"], out[0]["dst"]) == (
        "tool:search", "produces", "M",
    )


def test_self_loops_dropped(spark):
    rows = [("c1", 0, 0, "A", "co_occurs_with", "A")]
    assert _edges(spark, rows).count() == 0


def test_qa_uniqueness_detects_dups(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    v = qa_uniqueness(df, ["k"]).collect()
    assert len(v) == 1 and v[0]["k"] == 1 and v[0]["count"] == 2


def test_qa_consistency_flags_mandatory_nulls(spark):
    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("", "z")], "src string, dst string"
    ).withColumn("rel_type", F.lit("t")) \
     .withColumn("stoichiometry", F.lit(1)) \
     .withColumn("order", F.lit(1))
    rep = {r["Attribute"]: r["violations"] for r in qa_consistency(df, "edges").collect()}
    assert rep["src"] == 2  # one null + one empty
    assert "dst" not in rep


def test_build_nodes_shuffle_path_equals_broadcast(spark, catalog_df):
    """Size-gated catalog/mapping broadcasts: forcing the shuffle path
    (threshold=0) yields byte-identical node rows."""
    from kg.materialize import build_nodes

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "new:thing"),
         ("c1", 1, 2, "new:thing", "p", "tool:search")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame(
        [("cat:Q00001", "cat:Q00000")], "node string, canonical_id string"
    )
    a = build_nodes(canonical, catalog_df, mapping, broadcast_threshold=10_000)
    b = build_nodes(canonical, catalog_df, mapping, broadcast_threshold=0)
    ka = sorted(map(tuple, a.drop("properties").collect()))
    kb = sorted(map(tuple, b.drop("properties").collect()))
    assert ka == kb


def test_top_level_relabel_appends_label_and_overrides_class(spark, catalog_df):
    """P9 (ReactomeBatchImporter.java:369-374): members of the top-level
    set get the extra label appended to their ORIGINAL ancestry and the
    schema class overridden."""
    from kg.materialize import TOP_LEVEL_LABEL, build_nodes

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "cat:Q00004")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame([], "node string, canonical_id string")
    tlp = spark.createDataFrame([("cat:Q00000",)], "canonical_id string")
    rows = {
        r["canonical_id"]: r
        for r in build_nodes(
            canonical, catalog_df, mapping, top_level_ids=tlp
        ).collect()
    }
    assert rows["cat:Q00000"]["schema_class"] == TOP_LEVEL_LABEL
    assert rows["cat:Q00000"]["labels"][-1] == TOP_LEVEL_LABEL
    # original ancestry retained ahead of the appended label
    assert rows["cat:Q00000"]["labels"][0] != TOP_LEVEL_LABEL
    assert rows["cat:Q00004"]["schema_class"] != TOP_LEVEL_LABEL


def test_db_info_node_unioned(spark, catalog_df):
    """P10 (ReactomeBatchImporter.java:195-216,383-388): one DBInfo node
    with name/checksum/engine properties rides kg.nodes."""
    from kg.materialize import DB_INFO_ID, build_nodes

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "cat:Q00004")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame([], "node string, canonical_id string")
    nodes = build_nodes(
        canonical, catalog_df, mapping, input_snapshot="xxh64:abc",
        db_info={"name": "kg-pipeline", "checksum": "xxh64:abc", "engine": "spark-test"},
    )
    info = [r for r in nodes.collect() if r["canonical_id"] == DB_INFO_ID]
    assert len(info) == 1
    assert info[0]["labels"][0] == "DBInfo"
    assert info[0]["schema_class"] == "DBInfo"
    assert info[0]["properties"]["checksum"] == "xxh64:abc"
    assert info[0]["properties"]["engine"] == "spark-test"


def test_qa_consistency_exemption_allowlist(spark):
    """V4 (ReactomeBatchImporter.java:1131-1132): exempted ids do not count
    as violations for the exempted attribute only."""
    from kg.materialize import qa_consistency

    df = spark.createDataFrame(
        [(1, "root", None, "c", "x"), (2, "n2", None, "c", "x")],
        "node_id long, canonical_id string, display_name string, schema_class string, labels string",
    )
    base = {r["Attribute"]: r["violations"] for r in qa_consistency(df, "nodes").collect()}
    assert base == {}  # display_name is REQUIRED: null is allowed
    df2 = spark.createDataFrame(
        [(1, None, "d", "c", "x"), (2, "n2", "d", "c", "x")],
        "node_id long, canonical_id string, display_name string, schema_class string, labels string",
    )
    strict = {r["Attribute"]: r["violations"] for r in qa_consistency(df2, "nodes").collect()}
    assert strict["canonical_id"] == 1
    exempted = qa_consistency(
        df2, "nodes", exemptions={"canonical_id": [1]}, id_col="node_id"
    ).collect()
    assert all(r["Attribute"] != "canonical_id" for r in exempted)


def test_discarded_catalog_entities_counts_top1_losers(spark, catalog_df):
    """D5 (ReactomeBatchImporter.java:81,615,624): non-representative rows
    of merged components are tracked, the winner is not."""
    from kg.materialize import discarded_catalog_entities

    mapping = spark.createDataFrame(
        [("cat:Q00000", "cat:Q00000"), ("cat:Q00001", "cat:Q00000"),
         ("cat:Q00002", "cat:Q00000")],
        "node string, canonical_id string",
    )
    d = discarded_catalog_entities(catalog_df, mapping).collect()
    ids = {r["entity_id"] for r in d}
    assert ids == {"cat:Q00001", "cat:Q00002"}


def test_node_rep_and_discarded_have_no_window(spark):
    """r6 (VERDICT r5 #2 fix class): the representative-per-component
    selection in build_nodes and the loser set in
    discarded_catalog_entities must plan as aggregations (map-side
    partial agg over a giant alias component), not row_number windows
    (one unsplittable task per component)."""
    from pyspark.sql import functions as F

    from kg.materialize import build_nodes, discarded_catalog_entities

    cat = spark.createDataFrame(
        [("E1", "Alpha", "concept", ["Alpha"]), ("E2", "Beta", "concept", ["Beta"])],
        "entity_id string, canonical_name string, entity_type string, aliases array<string>",
    )
    mapping = spark.createDataFrame(
        [("E2", "E1")], "node string, canonical_id string"
    )
    triples = spark.createDataFrame(
        [("c1", 0, 0, "E1", "uses", "E2")],
        "conv_id string, turn_idx int, span_start int, "
        "subj_id string, pred string, obj_id string",
    )
    nodes = build_nodes(triples, cat, mapping, None)
    disc = discarded_catalog_entities(cat, mapping)
    for df in (nodes, disc):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, plan
    # semantics unchanged: E1 wins the merged component, E2 is discarded
    assert [tuple(r) for r in disc.collect()] == [("E2", "E1")]
