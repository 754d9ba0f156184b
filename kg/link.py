"""Stage 2 — blocking-key entity linking (SURVEY.md §2.3 J2/J3, §3.2).

Reference analog: InteractionImporter.addInteractionData — build side
``referenceEntityMap: "DB:identifier" → Set(dbId)``
(InteractionImporter.java:62,341-385), probe side resolving each
interactor accession to an existing node or creating a new one
(InteractionImporter.java:100-137,196-273).  The reference does this as a
per-row SQLite probe loop; here it is ONE declarative join:

    mentions ⟕ broadcast(catalog-keyed-by-blocking-key)
    hit  ⇒ catalog entity_id        (ambiguity resolved min(entity_id))
    miss ⇒ minted deterministic id  ("new:<key>" / "tool:<name>")

hashed_ids=True mints fixed-width "new:" + md5(key) instead.  The
pipeline never sets it (it lost the 8M-corpus A/B, BENCH/BASELINE.md
round 6); it stays an explicit argument because the
kg_linked_triples_hashed contract entry pins the md5 mint.

The catalog is a dimension (≪ probe side) ⇒ broadcast hash join: zero
shuffle of the 10^12-row probe side, and broadcast is inherently
skew-immune (a Zipfian-hot key never concentrates on one reducer because
there is no reducer).  For the case where the catalog outgrows broadcast
(no longer a dim), link_surfaces_salted provides the explicit
salted shuffle-join path required by the north_rule, with a unit test
proving salted ≡ broadcast results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg.extract import TOOL_SURFACE_PREFIX

MINTED_PREFIX = "new:"
TOOL_ENTITY_PREFIX = "tool:"


def norm_key(col: Column) -> Column:
    """Blocking-key normalization, JVM-side (whole-stage codegen):
    lower → trim → collapse internal whitespace.  Must match
    kg.synth.norm_surface / the oracle exactly."""
    from kg.extract import ASCII_WS_RE

    return F.regexp_replace(F.trim(F.lower(col)), ASCII_WS_RE, " ")


def build_link_index(catalog: DataFrame) -> DataFrame:
    """Build side (J2): explode aliases → (blocking_key, entity_id);
    ambiguity (shared alias) resolved deterministically to min(entity_id).

    Partial aggregation (map-side combine) makes the min() cheap; the
    result is a dimension keyed uniquely by blocking_key.
    """
    return (
        catalog.select(F.explode("aliases").alias("alias"), "entity_id")
        .select(norm_key(F.col("alias")).alias("blocking_key"), "entity_id")
        .groupBy("blocking_key")
        .agg(F.min("entity_id").alias("entity_id"))
    )


def _mint(key_col: Column, catalog_id: Column, hashed: bool = False) -> Column:
    """Miss branch (J3 left-outer): deterministic content-derived ids —
    never a global counter (reference uses ++maxDbId, which does not
    distribute; SURVEY.md §7 risk 1).  hashed=True mints fixed-width
    "new:" + md5(key) (tool ids are already bounded and stay readable)."""
    tool_name = F.regexp_replace(key_col, f"^{TOOL_SURFACE_PREFIX}", "")
    minted = (
        F.concat(F.lit(MINTED_PREFIX), F.md5(key_col))
        if hashed
        else F.concat(F.lit(MINTED_PREFIX), key_col)
    )
    return (
        F.when(catalog_id.isNotNull(), catalog_id)
        .when(
            key_col.startswith(TOOL_SURFACE_PREFIX),
            F.concat(F.lit(TOOL_ENTITY_PREFIX), tool_name),
        )
        .otherwise(minted)
    )


def link_surfaces(
    surfaces: DataFrame,
    catalog: DataFrame,
    surface_col: str = "surface",
    broadcast_threshold: int | None = None,
    hashed_ids: bool = False,
) -> DataFrame:
    """Probe (J3): map each distinct surface to an entity_id.

    Returns (surface, blocking_key, entity_id, is_minted).  Linking on the
    *distinct* surfaces (tiny vs. the triple stream) then rejoining keeps
    the expensive work proportional to vocabulary, not corpus, size.

    The index broadcast is size-gated on the exploded alias count (a cheap
    scan that upper-bounds the index rows); an over-threshold catalog falls
    back to a shuffle join — or use link_surfaces_salted when the hot-key
    skew of a shuffle join is the concern.
    """
    from kg.canonicalize import _fits_broadcast

    index = build_link_index(catalog)
    aliases = catalog.select(F.explode("aliases").alias("a"))
    if _fits_broadcast(aliases, broadcast_threshold):
        index = F.broadcast(index)
    probe = surfaces.select(F.col(surface_col).alias("surface")).distinct()
    probe = probe.withColumn("blocking_key", norm_key(F.col("surface")))
    joined = probe.join(index, "blocking_key", "left")
    return joined.select(
        "surface",
        "blocking_key",
        _mint(F.col("blocking_key"), F.col("entity_id"), hashed_ids).alias("entity_id"),
        F.col("entity_id").isNull().alias("is_minted"),
    )


def link_triples(
    raw_triples: DataFrame,
    catalog: DataFrame,
    broadcast_threshold: int | None = None,
    hashed_ids: bool = False,
) -> DataFrame:
    """Rewrite raw surface triples to entity-id triples.

    The (surface → entity_id) map is derived from the distinct surfaces of
    the triple stream itself — usually vocabulary-sized, but a high-
    surface-cardinality corpus (code snippets, ids) is not a dimension.
    Both rejoins are size-gated on the map's exact row count (free: the
    eager persist fill below already counts it); above the gate they run
    as plain shuffle joins, where AQE skew-splits Zipfian-hot surfaces.
    """
    # The map is built by link_surfaces unconditionally: its probe side is
    # the DISTINCT vocabulary (each key once ⇒ no probe-side skew to
    # salt), and its index side is already gated inside link_surfaces.
    # link_surfaces_salted remains for callers probing NON-distinct
    # surface streams with Zipfian keys.
    surf = raw_triples.select(F.col("subj_surface").alias("surface")).unionByName(
        raw_triples.select(F.col("obj_surface").alias("surface"))
    )
    mapped = link_surfaces(
        surf, catalog, broadcast_threshold=broadcast_threshold, hashed_ids=hashed_ids
    )
    # persist + EAGER fill: the map feeds TWO exchanges (subj + obj) whose
    # plans differ by rename, so ReuseExchange can't kick in; worse,
    # broadcast exchanges materialize on CONCURRENT driver threads, so a
    # lazy persist lets both race and compute the vocabulary distinct
    # (and the upstream extraction) simultaneously — observed as 3×
    # duplicated extraction stages in the event log.  One count() forces a
    # single computation; both joins then read the cache — AND that same
    # count is the broadcast gate for the rejoins (a separate
    # limit+count probe of the distinct vocabulary costs a full extra
    # pass over the corpus surfaces; measured as a visible slice of the
    # link wall at 60M turns).
    smap = mapped.select("surface", "entity_id").persist()
    n_map = smap.count()
    if broadcast_threshold is None:
        broadcast_threshold = int(
            raw_triples.sparkSession.conf.get("spark.kg.broadcastRowThreshold", "4000000")
        )
    vocab_small = broadcast_threshold > 0 and n_map <= broadcast_threshold

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if vocab_small else df

    # r6 (guide §2.4 "remove shuffles outright"): join on an explicit
    # condition against the UN-renamed cached map for both sides — the
    # r5 withColumnRenamed projections made the two broadcast subtrees
    # canonically different, so each rejoin built and shipped its own
    # broadcast of the same vocabulary; with identical subtrees the
    # second join's BroadcastExchange becomes a ReusedExchange (one
    # build, one ship).  Same join keys, same rows.
    s1, s2 = smap.alias("_s1"), smap.alias("_s2")
    return (
        raw_triples.join(
            _side(s1), F.col("subj_surface") == F.col("_s1.surface")
        )
        .join(_side(s2), F.col("obj_surface") == F.col("_s2.surface"))
        .select(
            "conv_id",
            "turn_idx",
            "span_start",
            F.col("_s1.entity_id").alias("subj_id"),
            "pred",
            F.col("_s2.entity_id").alias("obj_id"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit skew path (north_rule: "partitioning / shuffle / skew handled
# explicitly").  Used when the build side is too large to broadcast.
# ---------------------------------------------------------------------------
def link_surfaces_salted(
    surfaces: DataFrame,
    catalog: DataFrame,
    surface_col: str = "surface",
    salt_buckets: int = 16,
    hashed_ids: bool = False,
) -> DataFrame:
    """Salted shuffle hash join: probe side gets salt = pmod(xxhash64(row
    identity), K); build side is exploded ×K so every (key, salt) pair
    exists.  A Zipfian-hot blocking key is thereby spread over K reducers
    instead of one (SURVEY.md §2.3 note on J2/J3 at 10^12 scale).

    Produces the same (surface → entity_id) mapping as link_surfaces —
    asserted by tests/test_link.py::test_salted_equals_broadcast.
    """
    index = build_link_index(catalog)
    salted_index = index.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    probe = (
        surfaces.select(F.col(surface_col).alias("surface"))
        .distinct()
        .withColumn("blocking_key", norm_key(F.col("surface")))
        .withColumn("salt", F.pmod(F.xxhash64("surface"), F.lit(salt_buckets)).cast("int"))
    )
    joined = probe.hint("shuffle_hash").join(
        salted_index, ["blocking_key", "salt"], "left"
    )
    return joined.select(
        "surface",
        "blocking_key",
        _mint(F.col("blocking_key"), F.col("entity_id"), hashed_ids).alias("entity_id"),
        F.col("entity_id").isNull().alias("is_minted"),
    )


__all__ = [
    "norm_key",
    "build_link_index",
    "link_surfaces",
    "link_surfaces_salted",
    "link_triples",
    "MINTED_PREFIX",
    "TOOL_ENTITY_PREFIX",
]
