"""Seeded benchmark inputs, cached on disk with the oracle's outputs.

Inputs come from ``kg.synth.write_fixtures``; the same (size, seed) gives
byte-identical parquet.  Each input set is generated once per checkout
into ``<work>/inputs/<key>/`` together with the pure-Python oracle's edge
table (``kg.oracle.oracle_edges``) and node ids.  Generation runs in its
own process (``python3 perfbench/inputs.py --work DIR --seed N``), before the
measured process starts, so every measured process starts in the same
state whether or not its seed was cached.  Neither generation nor the
oracle is part of any metric.

Fingerprints are order-insensitive, so they compare a Spark output with
the oracle regardless of partitioning:

- edges: (rows, Σ stoichiometry, Σ xxhash64(src, dst, rel_type,
  stoichiometry, order)), the hash sum taken as decimal(38,0) so it cannot
  overflow under ANSI mode;
- nodes: (rows, Σ node_id, Σ xxhash64 over every column but the
  constant ``properties`` map and ``created_ts``).  ``node_id`` is
  xxhash64(canonical_id), so rows and Σ node_id must equal the count and
  hash sum of the oracle's node ids.  The oracle has no node attributes:
  the last sum must equal the one recorded for the input set by the
  first build whose edges and node ids matched the oracle and whose QA
  was clean.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

# half of bench.py's sf0.01 corpus: ~11k turns over a 500-entity catalog
N_CONVS = 1500
N_ENTITIES = 500

FILES = ("transcripts", "entity_catalog", "alias_pairs")
_MENTION = re.compile(r"\[\[(.*?)\]\]")


def _meta_path(d: str) -> str:
    return os.path.join(d, "meta.json")


def _load_meta(d: str) -> dict:
    with open(_meta_path(d)) as f:
        return json.load(f)


def _save_meta(d: str, meta: dict) -> None:
    tmp = _meta_path(d) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, _meta_path(d))


def _input_dir(work_dir: str, seed: int) -> str:
    return os.path.join(work_dir, "inputs", f"convs{N_CONVS}-ent{N_ENTITIES}-seed{seed}")


def _seed(seed: int) -> int:
    # kg.synth seeds numpy RandomState with seed..seed+2: keep it in range
    return seed % (2**31)


def oracle_node_ids(tr, cat, ap) -> list[str]:
    """The canonical ids of the node table: every subject and object of the
    canonical triples, self-loops included (only edges drop them), and the
    endpoints of the provenance edges."""
    from kg.oracle import (
        PROVENANCE_EDGE_ROWS,
        oracle_components,
        oracle_extract,
        oracle_link_index,
        oracle_resolve,
    )

    idx, comp = oracle_link_index(cat), oracle_components(ap)
    ids = {row[i] for row in PROVENANCE_EDGE_ROWS for i in (0, 1)}
    for *_, subj, _pred, obj in oracle_extract(tr):
        for surface in (subj, obj):
            r = oracle_resolve(surface, idx)
            ids.add(comp.get(r, r))
    return sorted(ids)


def _generate(d: str, seed: int) -> None:
    import pandas as pd

    from kg.oracle import oracle_edges
    from kg.synth import write_fixtures

    paths = write_fixtures(d, n_convs=N_CONVS, n_entities=N_ENTITIES, seed=seed)
    tr, cat, ap = (pd.read_parquet(paths[k]) for k in FILES)
    oracle_edges(tr, cat, ap).to_parquet(os.path.join(d, "oracle_edges.parquet"), index=False)
    pd.DataFrame({"canonical_id": oracle_node_ids(tr, cat, ap)}).to_parquet(
        os.path.join(d, "oracle_nodes.parquet"), index=False
    )
    surfaces = {m for t in tr["text"].dropna() for m in _MENTION.findall(t)}
    _save_meta(
        d,
        {
            "seed": seed,
            "props": {
                "convs": int(tr["conv_id"].nunique()),
                "turns": len(tr),
                "catalog_rows": len(cat),
                "alias_edges": len(ap),
                "distinct_surfaces": len(surfaces),
            },
        },
    )


def generate(work_dir: str, seed: int) -> None:
    """Generate the seed's input set unless it is cached (atomically, via a
    temp dir + rename)."""
    seed = _seed(seed)
    d = _input_dir(work_dir, seed)
    if os.path.exists(_meta_path(d)):
        return
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, seed)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)


def load(work_dir: str, seed: int) -> dict:
    """{"dir", "paths", "meta"} of a generated input set."""
    d = _input_dir(work_dir, _seed(seed))
    return {
        "dir": d,
        "paths": {k: os.path.join(d, f"{k}.parquet") for k in FILES},
        "meta": _load_meta(d),
    }


def read_inputs(spark, inp: dict):
    """(transcripts, catalog, alias_pairs) read with their declared schemas,
    as ``kg.main`` reads them."""
    from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA

    p = inp["paths"]
    return (
        spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(p["transcripts"]),
        spark.read.schema(CATALOG_SCHEMA).parquet(p["entity_catalog"]),
        spark.read.schema(ALIAS_PAIRS_SCHEMA).parquet(p["alias_pairs"]),
    )


def _hash_sum(*cols):
    from pyspark.sql import functions as F

    return F.coalesce(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
    ).cast("string")


def edge_fingerprint(edges) -> list:
    """[rows, Σ stoichiometry, hash sum] of an edge table (one job)."""
    from pyspark.sql import functions as F

    stoich = F.col("stoichiometry").cast("long")
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(stoich), F.lit(0)).alias("t"),
        _hash_sum("src", "dst", "rel_type", stoich, F.col("order").cast("long")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), int(row["t"]), row["h"]]


NODE_HASH_COLS = (
    "node_id", "canonical_id", "labels", "display_name", "schema_class",
    "stage", "input_snapshot",
)


def node_fingerprint(nodes) -> list:
    """[rows, Σ node_id, hash sum] of a node table (one job)."""
    from pyspark.sql import functions as F

    row = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("node_id").cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("ids"),
        _hash_sum(*NODE_HASH_COLS).alias("h"),
    ).collect()[0]
    return [int(row["n"]), row["ids"], row["h"]]


def expected(spark, inp: dict) -> dict:
    """The oracle's fingerprints, computed once per input set:
    {"edges": edge fingerprint, "node_ids": [rows, Σ xxhash64(canonical_id)]}.
    Call it only after the timed build: on a new input set it costs two
    Spark jobs, which must not warm the JVM for the build."""
    meta = inp["meta"]
    if "oracle" not in meta:
        edges = spark.read.parquet(os.path.join(inp["dir"], "oracle_edges.parquet"))
        ids = spark.read.parquet(os.path.join(inp["dir"], "oracle_nodes.parquet"))
        from pyspark.sql import functions as F

        row = ids.agg(
            F.count(F.lit(1)).alias("n"), _hash_sum("canonical_id").alias("h")
        ).collect()[0]
        meta["oracle"] = {"edges": edge_fingerprint(edges), "node_ids": [int(row["n"]), row["h"]]}
        _save_meta(inp["dir"], meta)
    return meta["oracle"]


def node_reference(inp: dict, mode: str) -> list | None:
    """The node fingerprint recorded for this input set and build mode, if
    any.  The node table embeds the input snapshot id only on the
    materialized path, so the two modes keep separate references."""
    return inp["meta"].get("nodes", {}).get(mode)


def record_nodes(inp: dict, mode: str, fp: list) -> None:
    """Record ``fp`` as the reference; call only for a build that passed
    every oracle and QA check."""
    meta = inp["meta"]
    meta.setdefault("nodes", {})[mode] = fp
    _save_meta(inp["dir"], meta)


def main() -> int:
    ap = argparse.ArgumentParser(description="Generate one seed's benchmark inputs.")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    generate(args.work, args.seed)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
