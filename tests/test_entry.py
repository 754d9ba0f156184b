"""Driver-contract smoke: entry() + queries()/oracle_sql() shape, and the
full Spark-vs-DuckDB comparison at sf0.001 (fast; sf0.01 runs in
tools/check_contract.py and in the driver itself)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def test_entry_returns_edges(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"src", "dst", "rel_type", "stoichiometry", "order"} <= set(df.columns)


def test_oracle_keys_subset_of_queries():
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) >= 30


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_duckdb_oracle(spark, duck, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    exp = duck.sql(entrymod.oracle_sql()[name]).df()
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns)
    a, b = _norm(got), _norm(exp)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_text_top_tokens_two_phase_equals_one_phase(spark):
    """r6 (VERDICT r5 item 3): the bucketed two-phase per-lang top-20
    must equal the single-window form exactly, including tie order."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from kg.entry_queries import _REGISTRY
    from kg.ops.dedup import words

    rows = []
    for i in range(400):
        lang = ["en", "de", "es"][i % 3]
        toks = " ".join(f"w{(i * 7 + j) % 45}" for j in range(12))
        rows.append((i, toks, lang, "s", len(toks)))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os
    sf_dir = tempfile.mkdtemp()
    d.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    two_phase = _REGISTRY["text_top_tokens"][0](spark, sf_dir)
    c = (
        d.select("lang", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    one_phase = (
        c.withColumn("rank_in_lang", F.row_number().over(w).cast("long"))
        .where(F.col("rank_in_lang") <= 20)
        .select("lang", "token", "n", "rank_in_lang")
    )
    assert sorted(map(tuple, two_phase.collect())) == sorted(
        map(tuple, one_phase.collect())
    )


def test_j1_preagg_branch_equals_broadcast_branch(spark):
    """r6 (guide §2.3): above the broadcast gate j1 switches to the
    count-per-order pre-aggregation; both branches must produce the
    identical nationkey counts."""
    from kg.entry_queries import _REGISTRY

    fn = _REGISTRY["j1_endpoint_resolution"][0]
    default = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    spark.conf.set("spark.kg.broadcastRowThreshold", "1")
    try:
        preagg = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.unset("spark.kg.broadcastRowThreshold")
    assert default == preagg


def test_a2_decimal_packing_equals_window_on_edge_values(spark):
    """r6: the DECIMAL(38,0)-packed top-1 must agree with the plain
    row_number window, including extreme orderkeys (near bigint max)
    and date/orderkey ties."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from kg.entry_queries import _REGISTRY

    rows = [
        (1, 9_000_000_000_000_000_000, dt.datetime(1998, 1, 1)),
        (1, 2, dt.datetime(1998, 1, 1)),          # date tie -> higher key wins
        (1, 9_199_999_999_999_999_999, dt.datetime(1997, 1, 1)),
        (2, 7, dt.datetime(1992, 6, 15, 23, 59, 59)),
        (2, 6, dt.datetime(1992, 6, 16)),          # later date beats higher key
        (3, 1, dt.datetime(1970, 1, 1)),           # epoch boundary
    ]
    o = spark.createDataFrame(
        [(c, k, d) for c, k, d in rows],
        "o_custkey long, o_orderkey long, o_orderdate timestamp_ntz",
    )
    import os
    import tempfile
    sf_dir = tempfile.mkdtemp()
    o.write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))
    packed = sorted(
        map(tuple, _REGISTRY["a2_latest_top1_per_group"][0](spark, sf_dir).collect())
    )
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    window_form = sorted(
        map(
            tuple,
            o.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select(
                "o_custkey",
                "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date"),
            )
            .collect(),
        )
    )
    assert packed == window_form


def test_a2_packing_rejects_keys_outside_its_domain(spark, tmp_path):
    """The decimal pack orders (date, orderkey) correctly only for a
    non-null date and orderkey ≥ 0; a negative key must fail the query
    rather than silently change the group's winner."""
    import datetime as dt

    from kg.entry_queries import _REGISTRY

    o = spark.createDataFrame(
        [(1, 5, dt.datetime(1998, 1, 1)), (1, -3, dt.datetime(1998, 1, 1))],
        "o_custkey long, o_orderkey long, o_orderdate timestamp_ntz",
    )
    o.write.parquet(str(tmp_path / "orders.parquet"))
    with pytest.raises(Exception, match="o_orderkey >= 0"):
        _REGISTRY["a2_latest_top1_per_group"][0](spark, str(tmp_path)).collect()
