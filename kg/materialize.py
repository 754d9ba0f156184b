"""Stage 4 — graph materialization: kg.nodes / kg.edges + QA (SURVEY.md §2).

Reference analogs:
- A1 stoichiometry+order aggregation: ReactomeBatchImporter.java:630-655 +
  GkInstancePropertiesHelper.java:5-32 — duplicate targets of one
  (source, relation) collapse to one edge with ``stoichiometry`` = count
  and ``order`` = first-appearance rank.
- W1 first-appearance rank: ReactomeBatchImporter.java:635 — ours ranks by
  (conv_id, turn_idx, span_start), deterministic, never
  monotonically_increasing_id (SURVEY.md §7 risk 2).
- D2 symmetric-edge canonicalization: ReactomeBatchImporter.java:661-674 —
  symmetric predicates stored once under (least, greatest).
- D3 direction flip: ReactomeBatchImporter.java:675-686 — passive-voice
  predicates written reversed under the active name.
- Node sink / deferred constraints: createNode + createConstraints
  (ReactomeBatchImporter.java:573,707-758) — we write first, then QA
  checks uniqueness (write-then-validate, Iceberg/parquet atomic replace
  standing in for BatchInserter.shutdown()).
- V1 consistency check: ReactomeBatchImporter.java:1126-1199 — nullability
  categories (ReactomeAttribute.java:12-28) aggregated into a QA report.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.link import MINTED_PREFIX, TOOL_ENTITY_PREFIX
from kg.schema import ATTRIBUTE_CATEGORIES, ENTITY_TYPE_LABELS, MANDATORY, REQUIRED

# D2: predicates whose edges are undirected — store once, canonical direction.
SYMMETRIC_PREDICATES = ["co_occurs_with"]
# D3: predicates stored reversed under an active name (ReactomeBatchImporter
# .java:675-686: author/created/modified etc. write (to, from)).
REVERSED_PREDICATES = {"produced_by": "produces"}

RUN_TS = dt.datetime(2025, 3, 1, 0, 0, 0)  # deterministic provenance stamp


def build_edges(canonical_triples: DataFrame) -> DataFrame:
    """canonical (subj, pred, obj) stream → aggregated edge table.

    Order of operations (mirrors the reference):
      1. drop self-loops created by alias merging
      2. D3 direction flips            (pure projection, no shuffle)
      3. D2 symmetric canonicalization (pure projection, no shuffle)
      4. A1 stoichiometry agg          (one shuffle on (src, rel, dst);
         partial aggregation collapses duplicates map-side first)
      5. W1 order rank                 (window on (src, rel))
    """
    return finalize_edge_state(edge_partials(canonical_triples))


def _normalize_triples(canonical_triples: DataFrame) -> DataFrame:
    """build_edges steps 1-3: drop alias-merge self-loops, apply the D3
    direction flips, canonicalize D2 symmetric edges — pure projections,
    no shuffle."""
    t = canonical_triples.where(F.col("subj_id") != F.col("obj_id"))

    flipped = F.col("pred").isin(*REVERSED_PREDICATES.keys())
    mapping = F.create_map(
        *[F.lit(x) for kv in REVERSED_PREDICATES.items() for x in kv]
    )
    t = t.select(
        "conv_id",
        "turn_idx",
        "span_start",
        F.when(flipped, F.col("obj_id")).otherwise(F.col("subj_id")).alias("src"),
        F.when(flipped, mapping[F.col("pred")]).otherwise(F.col("pred")).alias("rel_type"),
        F.when(flipped, F.col("subj_id")).otherwise(F.col("obj_id")).alias("dst"),
    )

    sym = F.col("rel_type").isin(*SYMMETRIC_PREDICATES)
    return t.select(
        "conv_id",
        "turn_idx",
        "span_start",
        F.when(sym, F.least("src", "dst")).otherwise(F.col("src")).alias("src"),
        "rel_type",
        F.when(sym, F.greatest("src", "dst")).otherwise(F.col("dst")).alias("dst"),
    )


def _edge_state_agg(t: DataFrame) -> DataFrame:
    """(src, rel_type, dst, stoichiometry, first_occ) from NORMALIZED
    (flip/symmetry-applied) triple rows — the A1 aggregation."""
    return t.groupBy("src", "rel_type", "dst").agg(
        F.count(F.lit(1)).cast("int").alias("stoichiometry"),
        F.min(F.struct("conv_id", "turn_idx", "span_start")).alias("first_occ"),
    )


def edge_partials(canonical_triples: DataFrame) -> DataFrame:
    """The MERGEABLE aggregation state of build_edges over a triple
    DELTA: (src, rel_type, dst, stoichiometry, first_occ).

    stoichiometry merges across deltas by SUM and first_occ by MIN, so
    per-epoch partials composed with merge_edge_state followed by
    finalize_edge_state equal build_edges over the concatenated triples
    — the algebra behind incremental edge compaction (VERDICT r4 item
    3; reference analog: the deferred-constraints finalize,
    ReactomeBatchImporter.java:170).  Same flip/symmetry normalization
    and self-loop drop as build_edges (its steps 1-4)."""
    return _edge_state_agg(_normalize_triples(canonical_triples))


def merge_edge_state(state: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Merge a delta's edge partials into the persistent edge state: one
    shuffle over (state + delta) keyed rows — O(edges + delta), never
    O(triple history).  With the state table bucketed on the keys
    (kg/lineage.write_stage_bucketed) the state side's exchange
    disappears entirely."""
    if state is None:
        return delta
    return (
        state.select("src", "rel_type", "dst", "stoichiometry", "first_occ")
        .unionByName(delta.select("src", "rel_type", "dst", "stoichiometry", "first_occ"))
        .groupBy("src", "rel_type", "dst")
        .agg(
            F.sum("stoichiometry").cast("int").alias("stoichiometry"),
            F.min("first_occ").alias("first_occ"),
        )
    )


def finalize_edge_state(state: DataFrame) -> DataFrame:
    """Edge state → the final kg.edges shape: the W1 order window (rank
    within (src, rel_type) by (first_occ, dst)) + projection.  Runs over
    EDGES (already aggregated), not triples — the cheap tail of the
    incremental path."""
    w = Window.partitionBy("src", "rel_type").orderBy(F.col("first_occ"), F.col("dst"))
    return state.select(
        "src",
        "dst",
        "rel_type",
        "stoichiometry",
        F.row_number().over(w).cast("int").alias("order"),
        F.col("first_occ.conv_id").alias("conv_id"),
        F.lit(RUN_TS).alias("created_ts"),
        F.lit("materialize").alias("stage"),
    )


TOP_LEVEL_LABEL = "TopLevelEntity"
DB_INFO_ID = "dbinfo:kg-pipeline"


def top_level_component_ids(mapping: DataFrame) -> DataFrame:
    """Default 'top-level' set (P9 analog): representatives of alias
    components that actually merged ≥ 2 nodes — the cluster heads.  The
    reference receives its topLevelPathways set from a precomputed query
    (ReactomeBatchImporter.java:360); ours is derived from the CC mapping,
    but build_nodes accepts any (canonical_id) set, so callers can inject
    a domain-specific one exactly like the reference does."""
    return (
        mapping.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("canonical_id")
    )


def build_nodes(
    canonical_triples: DataFrame,
    catalog: DataFrame,
    mapping: DataFrame,
    input_snapshot: str | None = None,
    broadcast_threshold: int | None = None,
    top_level_ids: DataFrame | None = None,
    db_info: dict | None = None,
) -> DataFrame:
    """Distinct canonical entities → typed, labeled node table.

    schema_class comes from the catalog entity_type of the component
    representative; minted/tool ids get synthetic classes.  Labels are the
    class-ancestry array from the broadcast ENTITY_TYPE_LABELS map (P8
    analog, ReactomeBatchImporter.java:836-868); node_id is the
    deterministic xxhash64 of canonical_id (SURVEY.md §1.4 visited-map row).

    The catalog, the CC mapping, and the top-level flag set are usually
    dimensions, but none is guaranteed to be: all three joins are
    size-gated (row-count probe vs spark.kg.broadcastRowThreshold); above
    the gate they fall back to shuffle joins, which AQE skew-splits if
    the keys are hot.  Only the constant entity-type→labels map is
    broadcast unconditionally (fixed, ~5 rows).
    """
    from kg.canonicalize import _fits_broadcast

    # probe the RAW inputs (cheap scans), not derived plans: `cat` below has
    # ≤ 1 row per catalog row, so catalog's count bounds it.
    _map_small = _fits_broadcast(mapping, broadcast_threshold)
    _cat_small = _fits_broadcast(catalog, broadcast_threshold)

    def _maybe_bcast(df: DataFrame, small: bool) -> DataFrame:
        return F.broadcast(df) if small else df

    ids = (
        canonical_triples.select(F.col("subj_id").alias("canonical_id"))
        .unionByName(canonical_triples.select(F.col("obj_id").alias("canonical_id")))
        .distinct()
    )
    # catalog rows keyed by their canonical representative: entity_id may be
    # a merged alias, so push catalog attrs through the CC mapping first.
    cat = (
        catalog.join(
            _maybe_bcast(mapping, _map_small).withColumnRenamed("node", "entity_id"),
            "entity_id",
            "left",
        )
        .select(
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
            "entity_id",
            "canonical_name",
            "entity_type",
        )
        # representative row = min entity_id within the component.  r6
        # (same fix class as the CC star steps, VERDICT r5 #2): the row_
        # number window funneled a giant alias component — the named
        # "hyper-common alias" hazard — through ONE task; min(struct)
        # aggregation gets map-side partial aggregation instead (entity_id
        # is the catalog PK, so the struct min IS the rn=1 row).
        .groupBy("canonical_id")
        .agg(F.min(F.struct("entity_id", "canonical_name", "entity_type")).alias("_t"))
        .select(
            "canonical_id",
            F.col("_t.canonical_name").alias("canonical_name"),
            F.col("_t.entity_type").alias("entity_type"),
        )
    )
    spark = canonical_triples.sparkSession
    labels_df = F.broadcast(
        spark.createDataFrame(
            [(k, v) for k, v in ENTITY_TYPE_LABELS.items()],
            "entity_type string, labels array<string>",
        )
    )
    n = ids.join(_maybe_bcast(cat, _cat_small), "canonical_id", "left")
    n = n.withColumn(
        "schema_class",
        F.when(F.col("entity_type").isNotNull(), F.col("entity_type"))
        .when(F.col("canonical_id").startswith(TOOL_ENTITY_PREFIX), F.lit("tool"))
        .otherwise(F.lit("minted")),
    ).withColumn(
        "display_name",
        F.coalesce(
            "canonical_name",
            F.regexp_replace(
                "canonical_id", f"^({MINTED_PREFIX}|{TOOL_ENTITY_PREFIX})", ""
            ),
        ),
    )
    n = n.join(labels_df, n["schema_class"] == labels_df["entity_type"], "left").drop(
        labels_df["entity_type"]
    )
    n = n.withColumn("labels", F.coalesce("labels", F.array(F.lit("Entity"))))
    if top_level_ids is not None:
        # P9 (ReactomeBatchImporter.java:369-374): membership semi-join flag
        # ⇒ append the extra label to the ORIGINAL ancestry AND override the
        # schema class, exactly like TopLevelPathway in the reference.
        flags = top_level_ids.select("canonical_id").distinct().withColumn(
            "_is_tlp", F.lit(True)
        )
        # gate like the others: the flag set derives from the CC mapping
        # (≤ one row per component), so the mapping probe is a cheap
        # conservative bound — at 10^9 alias nodes this falls back to a
        # shuffle join instead of OOMing the driver on the broadcast.
        n = (
            n.join(_maybe_bcast(flags, _map_small), "canonical_id", "left")
            .withColumn(
                "labels",
                F.when(
                    F.col("_is_tlp"),
                    F.array_union("labels", F.array(F.lit(TOP_LEVEL_LABEL))),
                ).otherwise(F.col("labels")),
            )
            .withColumn(
                "schema_class",
                F.when(F.col("_is_tlp"), F.lit(TOP_LEVEL_LABEL)).otherwise(
                    F.col("schema_class")
                ),
            )
            .drop("_is_tlp")
        )
    out = n.select(
        F.xxhash64("canonical_id").alias("node_id"),
        "canonical_id",
        "labels",
        "display_name",
        "schema_class",
        F.create_map(F.lit("source"), F.lit("kg-pipeline")).alias("properties"),
        F.lit(RUN_TS).alias("created_ts"),
        F.lit("materialize").alias("stage"),
        F.lit(input_snapshot).cast("string").alias("input_snapshot"),
    )
    if db_info is not None:
        out = out.unionByName(db_info_node(spark, input_snapshot, db_info))
        out = out.unionByName(provenance_nodes(spark, input_snapshot))
    return out


def db_info_node(
    spark: SparkSession, input_snapshot: str | None, db_info: dict
) -> DataFrame:
    """P10 (ReactomeBatchImporter.java:195-216,383-388): ONE first-class
    graph node carrying provenance — name, input checksum, engine version —
    with the DBInfo label leading, unioned into kg.nodes so provenance is
    queryable from the graph itself (not just the sidecar manifest)."""
    name = str(db_info.get("name", "kg-pipeline"))
    props = [("source", "kg-pipeline")] + sorted(
        (str(k), str(v)) for k, v in db_info.items()
    )
    kv = [F.lit(x) for pair in props for x in pair]
    row = spark.range(1).select(
        F.xxhash64(F.lit(DB_INFO_ID)).alias("node_id"),
        F.lit(DB_INFO_ID).alias("canonical_id"),
        F.array(F.lit("DBInfo"), F.lit("Entity")).alias("labels"),
        F.lit(name).alias("display_name"),
        F.lit("DBInfo").alias("schema_class"),
        F.create_map(*kv).alias("properties"),
        F.lit(RUN_TS).alias("created_ts"),
        F.lit("materialize").alias("stage"),
        F.lit(input_snapshot).cast("string").alias("input_snapshot"),
    )
    return row


PERSON_ID = "person:kg-importer"
INSTANCE_EDIT_ID = "edit:kg-pipeline"
PROVENANCE_STAGE = "provenance"


def provenance_nodes(spark: SparkSession, input_snapshot: str | None = None) -> DataFrame:
    """TrackingObjects analog (TrackingObjects.java:50-85): the importer
    writes ITSELF into the graph — a Person node for the importer user
    (createGraphImporterUserNode) and an InstanceEdit node stamped with
    the run time (createInstanceEditNode).  Deterministic ids + RUN_TS so
    reruns are idempotent (the reference mints ++maxDbId per run; content
    ids are the distributable version, SURVEY.md §7 risk 1)."""
    ts_str = RUN_TS.strftime("%Y-%m-%d %H:%M:%S")

    def _node(cid: str, labels: list[str], display: str, cls: str, props: list[tuple[str, str]]):
        kv = [F.lit(x) for pair in props for x in pair]
        return spark.range(1).select(
            F.xxhash64(F.lit(cid)).alias("node_id"),
            F.lit(cid).alias("canonical_id"),
            F.array(*[F.lit(x) for x in labels]).alias("labels"),
            F.lit(display).alias("display_name"),
            F.lit(cls).alias("schema_class"),
            F.create_map(*kv).alias("properties"),
            F.lit(RUN_TS).alias("created_ts"),
            F.lit(PROVENANCE_STAGE).alias("stage"),
            F.lit(input_snapshot).cast("string").alias("input_snapshot"),
        )

    person = _node(
        PERSON_ID, ENTITY_TYPE_LABELS["person"], "kg-importer", "person",
        [("source", "kg-pipeline"), ("firstname", "kg-importer"), ("surname", "script")],
    )
    edit = _node(
        INSTANCE_EDIT_ID, ["InstanceEdit", "Entity"],
        f"kg-importer, {ts_str}", "InstanceEdit",
        [("source", "kg-pipeline"), ("dateTime", ts_str)],
    )
    return person.unionByName(edit)


def provenance_edges(spark: SparkSession) -> DataFrame:
    """The provenance WIRING as first-class kg.edges rows, directions per
    the reference (TrackingObjects.java:64-85): (Person)-[:author]->
    (InstanceEdit) and (InstanceEdit)-[:created]->(DBInfo node), each
    with stoichiometry = 1 and order = 1 exactly like the reference's
    static properties map (TrackingObjects.java:29-33)."""
    from kg.schema import EDGES_SCHEMA

    rows = [
        (PERSON_ID, INSTANCE_EDIT_ID, "author", 1, 1, None, RUN_TS, PROVENANCE_STAGE),
        (INSTANCE_EDIT_ID, DB_INFO_ID, "created", 1, 1, None, RUN_TS, PROVENANCE_STAGE),
    ]
    return spark.createDataFrame(rows, EDGES_SCHEMA)


def discarded_catalog_entities(catalog: DataFrame, mapping: DataFrame) -> DataFrame:
    """D5 (ReactomeBatchImporter.java:81,615,624 `discarded` set): the
    LOSERS of the representative-per-component top-1 reduction — catalog
    rows whose attributes were dropped because another entity of the same
    alias component won (min entity_id).  Returns (entity_id,
    canonical_id); count it into the run manifest like the reference's
    import summary."""
    pairs = (
        catalog.join(
            mapping.withColumnRenamed("node", "entity_id"), "entity_id", "left"
        )
        .select(
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
            "entity_id",
        )
    )
    # r6 (VERDICT r5 #2 fix class): losers = rows above the per-component
    # min — groupBy min + join-back instead of a row_number window, so a
    # giant component's rows partial-aggregate map-side and the join-back
    # is AQE-skew-splittable rather than a single window task.
    mins = pairs.groupBy("canonical_id").agg(F.min("entity_id").alias("_mn"))
    return (
        pairs.join(mins, "canonical_id")
        .where(F.col("entity_id") != F.col("_mn"))
        .select("entity_id", "canonical_id")
    )


# ---------------------------------------------------------------------------
# QA (V1/V2 analogs) — write-then-validate, like the reference's deferred
# constraints.
# ---------------------------------------------------------------------------
def qa_uniqueness(df: DataFrame, keys: list[str]) -> DataFrame:
    """V2: post-write uniqueness assertion data — rows violating the key."""
    return df.groupBy(*keys).count().where(F.col("count") > 1)


def qa_consistency(
    df: DataFrame,
    table: str,
    exemptions: dict[str, list] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """V1: nullability-category violations per column, as a report
    DataFrame with the same CSV header as ReactomeBatchImporter.java:1173:
    (SchemaClass, Attribute, Category, Error, violations).

    V4 (ReactomeBatchImporter.java:1131-1132: TAXONOMY_ROOT is exempted
    from the missing-superTaxon check): ``exemptions`` maps an attribute
    name to the list of ``id_col`` values allowed to violate it — those
    rows are excluded from that attribute's count only."""
    cats = ATTRIBUTE_CATEGORIES.get(table, {})
    exemptions = exemptions or {}
    if exemptions and id_col is None:
        raise ValueError("exemptions require id_col to identify exempted rows")
    checks = []
    for col, cat in cats.items():
        if col not in df.columns:
            continue
        is_str = dict(df.dtypes).get(col) == "string"
        null_violation = F.col(col).isNull() if cat == MANDATORY else F.lit(False)
        if is_str:
            empty_violation = (
                (F.col(col) == "") if cat in (MANDATORY, REQUIRED) else F.lit(False)
            )
        else:
            empty_violation = F.lit(False)
        violation = null_violation | empty_violation
        if col in exemptions:
            violation = violation & ~F.col(id_col).isin(exemptions[col])
        checks.append(
            F.struct(
                F.lit(table).alias("SchemaClass"),
                F.lit(col).alias("Attribute"),
                F.lit(cat).alias("Category"),
                F.lit("null-or-empty").alias("Error"),
                F.sum(violation.cast("long")).alias("violations"),
            ).alias(f"chk_{col}")
        )
    if not checks:
        spark = df.sparkSession
        return spark.createDataFrame(
            [],
            "SchemaClass string, Attribute string, Category string, Error string, violations long",
        )
    wide = df.agg(*checks)  # single pass over the table, one agg per column
    stacked = wide.select(
        F.explode(F.array(*[F.col(f.name) for f in wide.schema.fields])).alias("r")
    )
    return stacked.select("r.*").where(F.col("violations") > 0)


def input_snapshot_checksum(spark: SparkSession, df: DataFrame) -> str:
    """V3/S11 analog: content checksum of an input table (sum of row
    hashes — the reference sums MySQL CHECKSUM TABLE per table,
    ReactomeBatchImporter.java:1091-1122)."""
    row = df.agg(
        F.coalesce(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)
        ).cast("string").alias("h")
    ).collect()[0]
    return f"xxh64:{int(row['h']) & 0xFFFFFFFFFFFFFFFF:016x}"


__all__ = [
    "build_edges",
    "edge_partials",
    "merge_edge_state",
    "finalize_edge_state",
    "build_nodes",
    "db_info_node",
    "provenance_nodes",
    "provenance_edges",
    "discarded_catalog_entities",
    "top_level_component_ids",
    "qa_uniqueness",
    "qa_consistency",
    "input_snapshot_checksum",
    "SYMMETRIC_PREDICATES",
    "REVERSED_PREDICATES",
    "RUN_TS",
    "TOP_LEVEL_LABEL",
    "DB_INFO_ID",
    "PERSON_ID",
    "INSTANCE_EDIT_ID",
]
