"""Resumability test (SURVEY.md §5: kill after Stage 2, restart, assert
identical final tables and no duplicate nodes/edges)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd

from kg.pipeline import run_pipeline_materialized


def _edges_pdf(res) -> pd.DataFrame:
    key = ["src", "dst", "rel_type", "stoichiometry", "order"]
    return res["edges"].toPandas()[key].sort_values(key).reset_index(drop=True)


def test_resume_after_partial_failure(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout")
    full = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    baseline = _edges_pdf(full)
    assert all(v == 0 for v in full["qa"].values())

    # simulate a crash after Stage 2: wipe everything downstream of linking
    for stage in ("canonical_triples", "nodes", "edges", "mapping"):
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)
        mp = os.path.join(out, f"_manifest_{stage}.json")
        if os.path.exists(mp):
            os.remove(mp)

    resumed = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out, resume=True
    )
    # early stages were skipped, late stages recomputed
    assert resumed["manifests"]["raw_triples"].get("resumed") is True
    assert resumed["manifests"]["linked_triples"].get("resumed") is True
    assert resumed["manifests"]["edges"].get("resumed") is None
    assert _edges_pdf(resumed).equals(baseline)
    assert all(v == 0 for v in resumed["qa"].values())


def test_rerun_is_idempotent(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout2")
    a = run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    b = run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    assert _edges_pdf(a).equals(_edges_pdf(b))
    # second run resumed every stage (same input snapshot)
    assert all(m.get("resumed") for m in b["manifests"].values())


def test_manifest_has_partition_lineage(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout3")
    run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    with open(os.path.join(out, "_manifest_edges.json")) as f:
        m = json.load(f)
    assert m["rows"] == sum(p["rows"] for p in m["partition_lineage"])
    assert m["partitions"] >= 1
    assert m["input_snapshot"].startswith("xxh64:")
