"""End-to-end four-stage pipeline driver (SURVEY.md §3.1 Spark lifecycle).

transcripts ──Stage1 extract──▶ raw_triples
raw_triples × catalog ──Stage2 link──▶ linked_triples
alias_pairs ──Stage3 CC──▶ canonical mapping ──▶ canonical_triples
canonical_triples ──Stage4──▶ kg.nodes / kg.edges (+ QA + manifests)

The DAG is declared once (_build_stages) as an ordered worklist of named
stages, like the reference's import phases (ReactomeBatchImporter.java:
145-149).  The two run modes differ only in how a stage is run:
- run_pipeline(...): in-memory DataFrames end to end (tests, entry()).
- run_pipeline_materialized(...): every stage lands in parquet with a
  manifest; completed stages (same input snapshot) are skipped on rerun —
  the checkpointed-resumability contract of the north_rule.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from kg.canonicalize import apply_canonical_map, connected_components
from kg.extract import extract_triples
from kg.lineage import read_stage, stage_is_complete, write_stage
from kg.link import link_triples
from kg.materialize import (
    build_edges,
    build_nodes,
    discarded_catalog_entities,
    input_snapshot_checksum,
    provenance_edges,
    qa_consistency,
    qa_uniqueness,
    top_level_component_ids,
)

# stage(name, build) runs one stage: build() returns its lazy DataFrame,
# and stage returns the frame the downstream stages read.
Stage = Callable[[str, Callable[[], DataFrame]], DataFrame]


def _build_stages(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame,
    alias_pairs: DataFrame,
    input_snapshot: str | None,
    stage: Stage,
) -> dict[str, DataFrame]:
    """The pipeline DAG, in run order: raw_triples, linked_triples,
    mapping, canonical_triples, nodes, edges."""
    raw = stage("raw_triples", lambda: extract_triples(transcripts))
    linked = stage("linked_triples", lambda: link_triples(raw, catalog))
    mapping = stage("mapping", lambda: connected_components(alias_pairs))
    canonical = stage(
        "canonical_triples", lambda: apply_canonical_map(linked, mapping)
    )
    nodes = stage(
        "nodes",
        lambda: build_nodes(
            canonical,
            catalog,
            mapping,
            input_snapshot,
            top_level_ids=top_level_component_ids(mapping),  # P9 analog
            db_info={  # P10 analog: provenance as a first-class node
                "name": "kg-pipeline",
                "checksum": input_snapshot or "",
                "engine": f"spark-{spark.version}",
            },
        ),
    )
    # TrackingObjects analog: the run's Person/InstanceEdit wiring becomes
    # first-class graph edges next to the content edges
    edges = stage(
        "edges",
        lambda: build_edges(canonical).unionByName(provenance_edges(spark)),
    )
    return {
        "raw_triples": raw,
        "linked_triples": linked,
        "mapping": mapping,
        "canonical_triples": canonical,
        "nodes": nodes,
        "edges": edges,
    }


def _in_memory_stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """run_pipeline's stage: lazy, except that raw_triples and
    canonical_triples are persisted.  Each is consumed by two downstream
    branches (linking probes the distinct surfaces of the triples
    themselves; nodes and edges both read the canonical stream), and
    without a persist Catalyst re-executes the pandas-UDF extraction once
    per branch — measured 2× the stage-1 cost at bench scale."""
    df = build()
    if name == "raw_triples":
        df = df.persist()
        df.count()  # eager fill: see link_triples — concurrent broadcast
        # threads would otherwise recompute the extraction UDF per exchange
    elif name == "canonical_triples":
        df = df.persist()
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame,
    alias_pairs: DataFrame,
    input_snapshot: str | None = None,
) -> dict[str, DataFrame]:
    """Mostly-lazy end-to-end plan (the CC fixpoint runs its own actions).
    The materialized runner (below) gets the effect of the in-memory
    persists from its per-stage parquet writes instead."""
    return _build_stages(
        spark, transcripts, catalog, alias_pairs, input_snapshot, _in_memory_stage
    )


def release_pipeline(result: dict) -> None:
    """Unpersist the DataFrames run_pipeline caches (raw_triples and
    canonical_triples).  Call once downstream consumption is finished;
    long-lived drivers that run many pipelines without releasing
    accumulate cached blocks (the materialized runner needs no release —
    its stages live in parquet, not the block manager)."""
    for key in ("raw_triples", "canonical_triples"):
        result[key].unpersist()


def run_qa(nodes: DataFrame, edges: DataFrame) -> dict[str, int]:
    """V1/V2 analogs; returns violation counts (all must be 0)."""
    return {
        "dup_node_ids": qa_uniqueness(nodes, ["node_id"]).count(),
        "dup_canonical_ids": qa_uniqueness(nodes, ["canonical_id"]).count(),
        "dup_edges": qa_uniqueness(edges, ["src", "rel_type", "dst"]).count(),
        "node_consistency": qa_consistency(nodes, "nodes").count(),
        "edge_consistency": qa_consistency(edges, "edges").count(),
    }


def run_pipeline_materialized(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame,
    alias_pairs: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Materialized run with per-stage manifests + resume.

    Each stage is an atomic overwrite, so a crash between stages resumes
    exactly at the first incomplete stage (tested in tests/test_resume.py).
    """
    # snapshot covers ALL inputs: a change in any of them invalidates resume
    snap = "xxh64:" + "-".join(
        input_snapshot_checksum(spark, df).removeprefix("xxh64:")
        for df in (transcripts, catalog, alias_pairs)
    )
    manifests: dict[str, dict] = {}

    # stage-4 tables cluster on their join keys (SURVEY.md §4)
    cluster_keys = {"nodes": ["canonical_id"], "edges": ["src"]}

    def _stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if resume and stage_is_complete(out_dir, name, snap):
            manifests[name] = {"stage": name, "resumed": True}
            return read_stage(spark, out_dir, name)
        df = build()
        manifests[name] = write_stage(
            df, out_dir, name, snap, cluster_by=cluster_keys.get(name)
        )
        return read_stage(spark, out_dir, name)

    out = _build_stages(spark, transcripts, catalog, alias_pairs, snap, _stage)
    qa = run_qa(out["nodes"], out["edges"])
    # D5 analog (ReactomeBatchImporter.java:81,615,624): count the losers
    # of the representative-per-component top-1 reduction in the summary
    discarded = discarded_catalog_entities(catalog, out["mapping"]).count()
    return {
        "input_snapshot": snap,
        "manifests": manifests,
        "qa": qa,
        "discarded_catalog_entities": discarded,
        "nodes": out["nodes"],
        "edges": out["edges"],
        "canonical_triples": out["canonical_triples"],
    }


__all__ = [
    "run_pipeline",
    "run_pipeline_materialized",
    "release_pipeline",
    "run_qa",
]
