"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exactness baseline.  Dot products run
  as F.aggregate over F.zip_with — a sequential JVM fold, deterministic
  (bitwise-reproducible, unlike a shuffled sum), codegen'd, no Python.
- LSH-bucketed variant (sign random projection): the scale path — at
  10^9 vectors the cross join is impossible; hyperplanes are derived
  deterministically from xxhash64 so every executor materializes the
  same planes with zero coordination, probes only join their bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.ops.dedup import _fan_out


def as_double(vec: Column) -> Column:
    """Element-wise widen to double.  A plain array cast, NOT a transform
    lambda (r6): higher-order-function bodies are evaluated interpreted,
    so the old transform paid a per-element interpreted cast over the
    whole corpus; Cast(array<float> → array<double>) is codegen'd and
    value-identical (same IEEE widening per element)."""
    return vec.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Deterministic sequential dot product — index order, no shuffle
    reorder.

    With ``dim`` (r6, the hot paths): the sum is EXPANDED into a plain
    codegen expression 0.0 + a[0]·b[0] + a[1]·b[1] + … — the identical
    left-associated IEEE addition order as the fold, so results are
    bit-identical — because F.aggregate/zip_with lambdas are evaluated
    INTERPRETED per element (measured: the interpreted fold dominated
    every ANN query at sf1.0).  F.get (not element_at) keeps the ANSI
    out-of-bounds behavior at NULL, matching zip_with's null padding.
    Without ``dim`` (unknown width): the legacy fold.
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    s: Column = F.lit(0.0)
    for i in range(dim):
        s = s + F.get(a, i) * F.get(b, i)
    return s


def dot_lit(vec: Column, w: list[float]) -> Column:
    """dot(vec, literal weight vector), fully expanded for codegen —
    same addition order as the fold over an F.array literal."""
    s: Column = F.lit(0.0)
    for i, x in enumerate(w):
        s = s + F.get(vec, i) * F.lit(float(x))
    return s


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (F.sqrt(dot(a, a, dim)) * F.sqrt(dot(b, b, dim)))


def _probe_dim(embeddings: DataFrame) -> int | None:
    """Embedding width from one row (bounded driver action).  All vectors
    are assumed equal-width — the same invariant the deterministic
    hyperplanes already rely on."""
    row = embeddings.select(F.size("embedding").alias("d")).head(1)
    return int(row[0]["d"]) if row else None


def brute_force_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """(probe_id, neighbor_id, rank, cos_sim): exact cosine top-k.

    probes × corpus via broadcast of the (tiny) probe side — the corpus
    is scanned once, no shuffle of the big side; ranking is a window on
    probe_id (reuses the broadcast-join partitioning under AQE).
    Ties broken on neighbor_id after rounding to 6dp so results are
    engine-independent.
    """
    d = _probe_dim(embeddings)
    # per-vector norm hoisted out of the per-pair cosine (r6): computed
    # once per row map-side, the pair then pays only the cross dot —
    # bit-identical (same expressions, same order, just not re-evaluated
    # per candidate)
    # fan-out before the broadcast probe (r6): a broadcast join preserves
    # the big side's partitioning, so a 1-split local scan would score
    # every (probe, vector) pair in ONE task (thread-dump-verified)
    e = _fan_out(embeddings).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("_nv", F.sqrt(dot(F.col("v"), F.col("v"), d)))
    probes = e.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("_nv").alias("_pnv"),
    )
    scored = (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("pv"), F.col("v"), d) / (F.col("_pnv") * F.col("_nv")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cos_sim")
    )


def _hyperplane(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a splitmix-style hash —
    pure arithmetic, identical on every executor and run."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            x = (p * 1_000_003 + d) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
            x = (x ^ (x >> 31)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
            x = (x ^ (x >> 29)) & 0xFFFFFFFFFFFFFFFF
            row.append((x / 2**64) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit p = sign(dot(v, plane_p)).
    Plane dots are expanded literal sums (dot_lit) — codegen, identical
    addition order to the old fold over an F.array literal."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        bit = F.when(dot_lit(vec, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def lsh_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH bucket,
    then exact cosine re-rank.  2^n_planes buckets ⇒ the candidate join
    touches ~1/2^n_planes of the corpus per probe.

    ``hamming=1`` turns on multi-probe: each probe also searches the
    n_planes buckets one bit-flip away (the vectors that fell JUST on the
    other side of one hyperplane — the dominant miss mode), raising the
    scanned share to (n_planes+1)/2^n_planes and recall with it, with no
    index change and no extra shuffle (the probe side merely fans out
    n_planes+1 rows per probe before the same broadcast join).
    """
    planes = _hyperplane(dim, n_planes)
    d = _probe_dim(embeddings)
    e = (
        _fan_out(embeddings)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .withColumn("bucket", lsh_bucket(F.col("v"), planes))
        .withColumn("_nv", F.sqrt(dot(F.col("v"), F.col("v"), d)))
    )
    if hamming not in (0, 1):
        raise ValueError("hamming must be 0 or 1")
    pbuckets = F.array(
        F.col("bucket"),
        *(
            [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
            if hamming
            else []
        ),
    )
    probes = e.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("_nv").alias("_pnv"),
        F.explode(pbuckets).alias("pbucket"),
    )
    cand = e.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("probe_id")),
    )
    scored = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("pv"), F.col("v"), d) / (F.col("_pnv") * F.col("_nv")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the cell-probing scale path.

    Coarse quantizer: ``n_cells`` centroids picked deterministically —
    the corpus vectors with the smallest md5('ivf|'||vec_id), a
    seeding both engines can reproduce (no k-means iterations, no RNG).
    Every corpus vector is assigned to its nearest centroid by rounded
    cosine (map-only: the centroids are collected once — n_cells rows —
    and inlined as literal arrays, so assignment is a per-row argmax
    with NO shuffle and no join).  A probe searches only its ``n_probe``
    nearest cells, so the candidate set is ~n_probe/n_cells of the
    corpus; exact cosine re-ranks the candidates.

    vs lsh_topk: IVF cells adapt to the data distribution (centroids are
    real corpus points) where hyperplane buckets are data-oblivious; the
    probe-side cell fan-out (n_probe) tunes recall without re-indexing.

    Scale: assignment cost is n_cells dot products per row (pure
    expressions); at 10^9+ rows with large n_cells, materialize the cell
    column once with write_stage and reuse it across probe batches.
    """
    import math

    e = _fan_out(embeddings).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    hk = F.md5(
        F.concat(F.lit("ivf|"), F.col("vec_id").cast("string")).cast("binary")
    )
    cent_rows = e.withColumn("hk", hk).orderBy("hk", "vec_id").limit(n_cells).collect()
    cents = [[float(x) for x in r["v"]] for r in cent_rows]
    norms = [math.sqrt(sum(x * x for x in c)) for c in cents]

    def _scores(vcol: Column) -> list[Column]:
        # argmax is invariant to the probe-side norm, so the assignment
        # score is dot/|c| only — one fold per centroid, none wasted on
        # re-deriving |v| per cell.  Rounded to 6dp with a centroid-id
        # tiebreak so the oracle's ranking is engine-independent.
        # Deliberately the FOLD form, not dot_lit (r6 A/B): n_cells
        # expanded literal sums make a ~6k-node expression tree whose
        # driver-side analysis/codegen costs more than the interpreted
        # fold saves (build 2.0s → 6.4s, force 3.9s → 4.9s measured at
        # sf1.0); expansion only pays for SMALL trees (single-pair
        # cosine, per-plane dots).
        return [
            F.round(
                dot(vcol, F.array(*[F.lit(x) for x in c])) / F.lit(n), 6
            )
            for c, n in zip(cents, norms)
        ]

    def _cell_structs(vcol: Column) -> Column:
        # struct(score, -cid): array_max/sort_array order by score, then
        # by -cid ⇒ ties break to the LOWEST centroid id.
        return F.array(*[
            F.struct(s.alias("s"), F.lit(-i).alias("nid"))
            for i, s in enumerate(_scores(vcol))
        ])

    dim = len(cents[0]) if cents else None
    cells = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"), dim)).alias("_nv"),
        (-F.array_max(_cell_structs(F.col("v")))["nid"]).cast("int").alias("cell"),
    )
    probes = e.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.sqrt(dot(F.col("v"), F.col("v"), dim)).alias("_pnv"),
        F.explode(
            F.slice(F.sort_array(_cell_structs(F.col("v")), asc=False), 1, n_probe)
        ).alias("t"),
    ).select("probe_id", "pv", "_pnv", (-F.col("t.nid")).cast("int").alias("cell"))
    cand = cells.alias("c").join(
        F.broadcast(probes.alias("p")),
        (F.col("c.cell") == F.col("p.cell"))
        & (F.col("c.vec_id") != F.col("p.probe_id")),
    )
    scored = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("pv"), F.col("v"), dim)
            / (F.col("_pnv") * F.col("_nv")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cos_sim")
    )


def _seed_centroid_matrix(e: DataFrame, n_cells: int):
    """Deterministic seeds: the n_cells corpus vectors with the smallest
    md5('ivf|'||vec_id) — same rule as ivf_topk, as a numpy matrix."""
    import numpy as np

    hk = F.md5(
        F.concat(F.lit("ivf|"), F.col("vec_id").cast("string")).cast("binary")
    )
    rows = e.withColumn("hk", hk).orderBy("hk", "vec_id").limit(n_cells).collect()
    return np.array([[float(x) for x in r["v"]] for r in rows], dtype="float64")


def assign_cells(embeddings: DataFrame, centroids) -> DataFrame:
    """(vec_id, v, cell): nearest-centroid assignment at PRODUCTION cell
    counts (VERDICT r3 item 7).  The 16-cell ivf_topk inlines centroids
    as literal array folds — interpreted HOF evaluation, linear in
    n_cells per row, unusable at 4096.  Here the centroid matrix is a
    broadcast variable and each Arrow batch scores against it with ONE
    numpy matmul (BLAS): O(dim·n_cells) flops per row but vectorized,
    map-only, no shuffle, no per-row Python.  Broadcast size is
    n_cells×dim floats (4096×1024×8B = 32 MB — executor-safe).
    Cosine argmax is probe-norm-invariant, so rows are scored against
    norm-scaled centroids; ties break to the lowest cell id (numpy
    argmax takes the first maximum).

    At 10^9+ rows, materialize the result once with
    kg.lineage.write_stage and reuse it across probe batches and
    k-means iterations — assignment is the scan-dominant step.
    """
    import numpy as np
    import pandas as pd

    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    scaled = (centroids / norms[:, None]).T  # dim × n_cells
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(scaled)

    def _assign(it):
        m = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy())
            cell = (v @ m).argmax(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "v": pdf["v"].values,
                 "cell": cell.astype("int32")}
            )

    return embeddings.select("vec_id", "v").mapInPandas(
        _assign, schema="vec_id long, v array<double>, cell int"
    )


def kmeans_refine(embeddings: DataFrame, centroids, iters: int = 2):
    """Deterministic Lloyd refinement of the seed centroids: assign
    (assign_cells) → per-cell mean → repeat.  The mean is computed
    JVM-side (posexplode + avg per (cell, position)), then REASSEMBLED
    into one array per cell before the collect (array_sort over
    (pos, m) structs — pos is unique so the sort is by position), so
    the driver receives n_cells ROWS, not n_cells·dim scalar Rows
    (4096×1024 would be 4.2M Row objects — multi-GB of Python object
    overhead for 32 MB of payload; VERDICT r4 item 5).  An emptied
    cell keeps its previous centroid.  Seeds and assignment are
    deterministic; the float mean varies only in low-order bits with
    aggregation order, which moves no assignment in practice and is
    irrelevant to the recall measurements this feeds (no SQL oracle
    claims bit-equality over the refined centroids)."""
    cents = centroids.copy()
    for _ in range(iters):
        a = assign_cells(embeddings, cents)
        rows = (
            a.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
            .collect()
        )
        new = cents.copy()
        for r in rows:
            new[r["cell"]] = [s["m"] for s in r["ms"]]
        cents = new
    return cents


def ivf_topk_at_scale(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_cells: int = 4096,
    n_probe: int = 64,
    kmeans_iters: int = 0,
    cells: DataFrame | None = None,
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k at production cell counts: matmul-assigned
    cells (assign_cells), optional k-means refinement, probe fan-out to
    the n_probe nearest cells, exact cosine re-rank of the candidates.

    vs ivf_topk (the 16-cell oracle-checked variant — unchanged): same
    semantics, different physics — assignment is a broadcast matmul
    instead of literal-inlined folds, and the cell column can be
    precomputed once (pass ``cells``, e.g. read back from a
    write_stage'd parquet) so repeated probe batches pay only the
    candidate join: shuffle-free scan of ~n_probe/n_cells of the corpus
    per probe, exactly the IVF contract.

    Precomputed ``cells`` MUST come with the centroid matrix they were
    assigned against (``centroids``) — probe-side nearest-cell selection
    uses that same matrix, and a mismatch silently degrades recall
    (ADVICE r4).  When ``cells`` is supplied, no refinement runs here
    (the refinement that produced the centroids happened before the
    cells were materialized); passing ``kmeans_iters`` with ``cells``
    but WITHOUT the matching ``centroids`` is rejected rather than
    silently re-deriving a different matrix.
    """
    import numpy as np
    import pyarrow as pa

    e = _fan_out(embeddings).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    if cells is not None:
        if centroids is None:
            if kmeans_iters:
                raise ValueError(
                    "cells precomputed against refined centroids: pass the "
                    "refined centroid matrix via centroids= (re-running "
                    "kmeans here would rebuild a DIFFERENT matrix and "
                    "silently mis-route probes)"
                )
            cents = _seed_centroid_matrix(e, n_cells)
        else:
            cents = np.asarray(centroids, dtype="float64")
    else:
        cents = (
            np.asarray(centroids, dtype="float64")
            if centroids is not None
            else _seed_centroid_matrix(e, n_cells)
        )
        if kmeans_iters:
            cents = kmeans_refine(e, cents, kmeans_iters)
        cells = assign_cells(e, cents)
    # probe-side: nearest cells from the (driver-resident) centroid matrix
    probes = e.where(F.col("vec_id").isin(probe_ids)).collect()
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0] = 1.0
    scaled = (cents / norms[:, None]).T
    probe_rows = {"probe_id": [], "pv": [], "cell": []}
    for r in probes:
        v = np.array(r["v"], dtype="float64")
        order = np.argsort(-(v @ scaled), kind="stable")[:n_probe]
        for c in order:
            probe_rows["probe_id"].append(int(r["vec_id"]))
            probe_rows["pv"].append([float(x) for x in r["v"]])
            probe_rows["cell"].append(int(c))
    spark = embeddings.sparkSession
    d = int(cents.shape[1])
    # Arrow table ⇒ JVM LocalRelation: the broadcast probe side needs no
    # Python worker (a list of rows would be a Python RDD)
    pdf = spark.createDataFrame(
        pa.table(probe_rows), "probe_id long, pv array<double>, cell int"
    ).withColumn("_pnv", F.sqrt(dot(F.col("pv"), F.col("pv"), d)))
    cells = cells.withColumn("_nv", F.sqrt(dot(F.col("v"), F.col("v"), d)))
    cand = cells.join(
        F.broadcast(pdf),
        (cells["cell"] == pdf["cell"]) & (cells["vec_id"] != pdf["probe_id"]),
    )
    scored = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("pv"), F.col("v"), d) / (F.col("_pnv") * F.col("_nv")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cos_sim")
    )


EMB_DEFAULT_MAX_BUCKET = 10_000
EMB_TARGET_BUCKET = 1_024


def resolve_n_planes(
    embeddings: DataFrame,
    n_planes: int | str,
    target_bucket_size: int = EMB_TARGET_BUCKET,
) -> int:
    """``n_planes="auto"`` → planes ≈ log2(N / target_bucket): expected
    bucket population N/2^planes lands near target_bucket_size instead of
    a FIXED 2^6=64-way split whose buckets grow linearly with the corpus
    (at 10^8 vectors a 64-bucket split makes the per-bucket self-join
    Θ(N²/64) ≈ 10^14 pairs).  One bounded count; clamped to [1, 30]."""
    if n_planes != "auto":
        return int(n_planes)
    import math

    n = embeddings.count()
    return max(1, min(30, math.ceil(math.log2(max(2, n / target_bucket_size)))))


def _emb_blocks(
    embeddings: DataFrame,
    block_col: str | None,
    n_planes: int | str,
    dim: int,
) -> DataFrame:
    """(vec_id, _blk, v) block-keyed vectors (shared by the pair join and
    the oversized-bucket audit so both see identical buckets)."""
    if block_col is None:
        planes = _hyperplane(dim, resolve_n_planes(embeddings, n_planes))
        return _fan_out(embeddings).select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ).withColumn("_blk", lsh_bucket(F.col("v"), planes))
    return _fan_out(embeddings).select(
        "vec_id",
        F.col(block_col).alias("_blk"),
        as_double(F.col("embedding")).alias("v"),
    )


def embedding_oversized_buckets(
    embeddings: DataFrame,
    block_col: str | None = None,
    n_planes: int | str = 6,
    dim: int = 64,
    max_bucket_size: int = EMB_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(bucket, n_vecs) for blocks ABOVE the pair-explosion cap — exactly
    the buckets embedding_near_dup_pairs drops.  Materialize alongside the
    pairs for a drop audit (the cap must never be silent) — the same
    contract as lsh_oversized_buckets (kg/ops/dedup.py)."""
    return (
        _emb_blocks(embeddings, block_col, n_planes, dim)
        .groupBy(F.col("_blk").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .where(F.col("n_vecs") > max_bucket_size)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = None,
    n_planes: int | str = 6,
    dim: int = 64,
    max_bucket_size: int | None = EMB_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim): embedding-cosine near-duplicate pairs.

    The dedup flavor of similarity search: pairs above a cosine threshold
    are duplicate candidates.  DEFAULT blocking (block_col=None) is the
    sign-random-projection bucket from lsh_bucket — a geometric
    quantization with expected bucket population N/2^n_planes (pass
    ``n_planes="auto"`` to scale the split with the corpus, see
    resolve_n_planes).  A metadata column (label/source) is an explicit
    opt-in only: one label value can be corpus-sized, which re-creates
    the quadratic join.

    Hot-bucket cap: blocking alone does NOT bound the self-join — a
    degenerate corpus (near-identical embeddings) puts everything in ONE
    bucket regardless of n_planes, a Θ(N²) join from a single key.
    Buckets above max_bucket_size are excluded via a map-combined count
    + a broadcast anti-join (the oversized set is ≤ N/cap rows by
    construction, so it always broadcasts); audit the drops with
    embedding_oversized_buckets.  Such buckets are exact-dup territory —
    run exact/minhash dedup first.  max_bucket_size=None disables.
    """
    # persist: the block-keyed relation feeds the oversized-bucket count
    # and BOTH self-join sides; unpinned, each reference re-derives the
    # bucket projection from the scan.  Norms hoisted per vector (r6):
    # the pair then pays one cross dot, not three.
    d = _probe_dim(embeddings)
    e = (
        _emb_blocks(embeddings, block_col, n_planes, dim)
        .withColumn("_nv", F.sqrt(dot(F.col("v"), F.col("v"), d)))
        .persist()
    )
    if max_bucket_size is not None:
        oversized = (
            e.groupBy("_blk")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
            .where(F.col("n_vecs") > max_bucket_size)
            .select("_blk")
        )
        e = e.join(F.broadcast(oversized), "_blk", "left_anti")
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"), d)
                / (F.col("a._nv") * F.col("b._nv")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
