"""The builds the benchmark times, their output checks, and the traced
mirrors that time each layer from outside.

Two build modes, both through the public ``kg.pipeline`` API:

- ``memory``: ``run_pipeline``, forced by one aggregate over the edges
  and one over the nodes (the oracle fingerprints); ``run_qa`` over its
  nodes and edges and ``release_pipeline`` follow outside the timed
  region;
- ``import``: ``run_pipeline_materialized`` into a fresh output
  directory (the ``kg.main`` path: parquet stages, manifests, QA).

The traced mirrors call the same stage functions in the same order as
``kg/pipeline.py``, one span per layer.  Each layer's output is persisted
and counted inside its span so that the next layer does not recompute it;
those persists are part of the tracing overhead the benchmark reports.
"""

from __future__ import annotations

import os
import shutil

from kg.canonicalize import apply_canonical_map, connected_components
from kg.extract import extract_triples
from kg.lineage import read_stage, write_stage
from kg.link import link_triples
from kg.materialize import (
    build_edges,
    build_nodes,
    discarded_catalog_entities,
    input_snapshot_checksum,
    provenance_edges,
    top_level_component_ids,
)
from kg.pipeline import (
    release_pipeline,
    run_pipeline,
    run_pipeline_materialized,
    run_qa,
)

from perfbench.inputs import edge_fingerprint, node_fingerprint, node_reference, record_nodes
from perfbench.status import final_plan, join_label

CLUSTER_KEYS = {"nodes": ["canonical_id"], "edges": ["src"]}


# --------------------------------------------------------------------------
# untraced builds
# --------------------------------------------------------------------------
def fingerprints(res: dict) -> dict:
    return {"edges": edge_fingerprint(res["edges"]), "nodes": node_fingerprint(res["nodes"])}


def memory_build(spark, tr, cat, ap) -> tuple[dict, dict]:
    """run_pipeline forced by its fingerprint aggregates.  Returns
    (pipeline result, fingerprints); the caller checks the result's QA and
    then calls release_pipeline, both outside the timed region."""
    res = run_pipeline(spark, tr, cat, ap)
    return res, fingerprints(res)


def graph_qa(nodes, edges) -> dict:
    """run_qa over an in-memory build's nodes and edges, each computed once
    (run_qa reads the nodes three times and the edges twice)."""
    nodes, edges = nodes.persist(), edges.persist()
    qa = run_qa(nodes, edges)
    nodes.unpersist()
    edges.unpersist()
    return qa


def import_build(spark, tr, cat, ap, out_dir: str) -> dict:
    """A fresh materialized build: nothing to resume in an empty directory."""
    shutil.rmtree(out_dir, ignore_errors=True)
    return run_pipeline_materialized(spark, tr, cat, ap, out_dir)


def check(mode: str, fps: dict, expect: dict, inp: dict, qa: dict) -> list[str]:
    """Problems with one build's output: edges and node ids against the
    oracle, QA counts all zero, and the node attributes against the input
    set's reference, which only a build passing every other check records."""
    problems = []
    if fps["edges"] != expect["edges"]:
        problems.append(f"edges {fps['edges']} != oracle {expect['edges']}")
    if fps["nodes"][:2] != expect["node_ids"]:
        problems.append(f"node ids {fps['nodes'][:2]} != oracle {expect['node_ids']}")
    if any(qa.values()):
        problems.append(f"qa violations {qa}")
    ref = node_reference(inp, mode)
    if ref is None:
        if not problems:
            record_nodes(inp, mode, fps["nodes"])
    elif fps["nodes"] != ref:
        problems.append(f"nodes {fps['nodes']} != this input set's reference {ref}")
    return problems


# --------------------------------------------------------------------------
# traced mirrors
# --------------------------------------------------------------------------
def _labels(dfs: dict) -> dict:
    """Which side of each dispatch gate the build took, read from the
    layers' plans after the build — recorded, never asserted."""
    plan = {k: final_plan(df) for k, df in dfs.items()}
    cc_logical = dfs["canonicalize.cc"]._jdf.queryExecution().optimizedPlan().toString()
    return {
        "extract": "pandas" if "MapInPandas" in plan["extract"] else "sql",
        "cc": "fixpoint" if "Join" in cc_logical else "driver_union_find",
        "link_join": join_label(plan["link"]),
        "apply_join": join_label(plan["canonicalize.apply"]),
        "nodes_join": join_label(plan["materialize.nodes"]),
    }


def _snapshot(spark, tr, cat, ap) -> str:
    """The input snapshot id run_pipeline_materialized computes."""
    return "xxh64:" + "-".join(
        input_snapshot_checksum(spark, df).removeprefix("xxh64:") for df in (tr, cat, ap)
    )


def _persisted(tracer, layer: str, build, dfs: dict):
    """Run one layer inside its span: build, persist, count."""
    with tracer.span(layer) as span:
        df = build().persist()
        span["rows"] = df.count()
    dfs[layer] = df
    return df


def traced_memory_build(spark, tr, cat, ap, tracer) -> tuple[dict, dict, dict]:
    """Mirror of run_pipeline + the edge/node aggregates.
    Returns (fingerprints, QA counts, dispatch labels, root span)."""
    dfs: dict = {}
    with tracer.span("build") as root:
        raw = _persisted(tracer, "extract", lambda: extract_triples(tr), dfs)
        linked = _persisted(tracer, "link", lambda: link_triples(raw, cat), dfs)
        mapping = _persisted(tracer, "canonicalize.cc", lambda: connected_components(ap), dfs)
        canonical = _persisted(
            tracer, "canonicalize.apply", lambda: apply_canonical_map(linked, mapping), dfs
        )
        with tracer.span("materialize.edges") as span:
            edges = build_edges(canonical).unionByName(provenance_edges(spark))
            efp = edge_fingerprint(edges)
            span["rows"] = efp[0]
        with tracer.span("materialize.nodes") as span:
            nodes = build_nodes(
                canonical,
                cat,
                mapping,
                None,
                top_level_ids=top_level_component_ids(mapping),
                db_info={"name": "kg-pipeline", "checksum": "", "engine": f"spark-{spark.version}"},
            )
            nfp = node_fingerprint(nodes)
            span["rows"] = nfp[0]
    dfs["materialize.nodes"] = nodes
    labels = _labels(dfs)
    qa = graph_qa(nodes, edges)  # output check, outside the root span
    for df in (raw, linked, mapping, canonical):
        df.unpersist()
    return {"edges": efp, "nodes": nfp}, qa, labels, root


def traced_import_build(spark, tr, cat, ap, tracer, out_dir: str) -> tuple[dict, dict, dict]:
    """Mirror of run_pipeline_materialized on a fresh directory.
    Returns (result like run_pipeline_materialized's, labels, root span)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    dfs: dict = {}
    with tracer.span("build") as root:
        with tracer.span("lineage.snapshot"):
            snap = _snapshot(spark, tr, cat, ap)

        def stage(layer: str, name: str, build):
            df = _persisted(tracer, layer, build, dfs)
            with tracer.span("lineage.write") as span:
                span["rows"] = write_stage(
                    df, out_dir, name, snap, cluster_by=CLUSTER_KEYS.get(name)
                )["rows"]
                return read_stage(spark, out_dir, name)  # may list/infer: a job

        raw = stage("extract", "raw_triples", lambda: extract_triples(tr))
        linked = stage("link", "linked_triples", lambda: link_triples(raw, cat))
        mapping = stage("canonicalize.cc", "mapping", lambda: connected_components(ap))
        canonical = stage(
            "canonicalize.apply", "canonical_triples", lambda: apply_canonical_map(linked, mapping)
        )
        nodes = stage(
            "materialize.nodes",
            "nodes",
            lambda: build_nodes(
                canonical,
                cat,
                mapping,
                snap,
                top_level_ids=top_level_component_ids(mapping),
                db_info={"name": "kg-pipeline", "checksum": snap, "engine": f"spark-{spark.version}"},
            ),
        )
        edges = stage(
            "materialize.edges",
            "edges",
            lambda: build_edges(canonical).unionByName(provenance_edges(spark)),
        )
        with tracer.span("qa") as span:
            qa = run_qa(nodes, edges)
            discarded_catalog_entities(cat, mapping).count()
            span["rows"] = sum(qa.values())
    labels = _labels(dfs)
    for df in dfs.values():
        df.unpersist()
    return {"qa": qa, "nodes": nodes, "edges": edges}, labels, root


def out_root(work_dir: str) -> str:
    """This process's output directories live here; removed at exit."""
    return os.path.join(work_dir, "out", str(os.getpid()))


def out_dir_for(work_dir: str, tag: str) -> str:
    return os.path.join(out_root(work_dir), tag)
