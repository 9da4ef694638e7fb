"""Similarity search over embedding columns (array<float>).

Scale design (BASELINE.json north star):
- brute-force cosine top-k: the baseline — one scan, dot products via
  array higher-order functions (JVM-side, no Python), global top-k via
  orderBy+limit (Spark's TakeOrdered avoids a full sort);
- LSH-bucketed variant (random hyperplanes): signature computed natively
  from fixed seeded planes broadcast as literals; candidate search probes
  only matching buckets — the 100 TB path;
- embedding near-dup: pairs with cosine ≥ threshold inside buckets.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F



def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (native, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against one query vector. The query enters the
    plan as an array literal (constant-folded, broadcast implicitly);
    orderBy+limit compiles to TakeOrderedAndProject — per-partition heap
    then driver merge of k rows, not a global sort."""
    q = F.expr(_darr_sql(query_vec))
    sim = cosine(F.col("embedding").cast("array<double>"), q)
    return (
        df.select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def pairwise_topk_within(
    df: DataFrame,
    group_col: str = "label",
    threshold: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs within a partition key (e.g. LSH
    bucket or label): one Arrow batch per group, cosine matrix by BLAS
    GEMM, upper triangle above threshold emitted as pair rows.

    ``dim`` pins the embedding dimensionality explicitly (callers with a
    codebook know it — `dedup_semantic` passes the trained dim). Without
    it, the per-group modal vector length is used with a deterministic
    tie-break toward (count, then larger dim), so corrupt/ragged vectors
    tying the modal count can never silently displace the true dim
    (ADVICE r8).

    Why not a self-join with per-pair array math: a group of n rows costs
    n²/2 higher-order-function traversals (~5× slower measured at n≈200);
    GEMM does the same flops at memory bandwidth. The group key bounds
    both the pair blow-up AND the batch size — at scale groups are LSH
    buckets sized (by construction) to fit an Arrow batch; the shuffle
    carries vectors once instead of materializing the joined pairs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    slim = df.select(
        F.col(group_col),
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    # Compute-bound stage with tiny shuffle bytes: pin the partition
    # count so AQE's byte-size coalescing can't collapse it (measured 4
    # tasks / 2-10× slowdown at sf1) — see session.pin_grouping.
    from stglib_spark.session import pin_grouping

    slim = pin_grouping(slim, group_col)
    id_field = df.schema["vec_id"].dataType
    schema = StructType(
        [
            StructField("id_a", id_field),
            StructField("id_b", id_field),
            StructField("cosine", DoubleType()),
        ]
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        arrs = pdf["__v"].to_numpy()
        if dim is not None:
            d = dim
        else:
            dims = [len(a) for a in arrs if a is not None]
            if not dims:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            # modal length = true dim; tie-break deterministically toward
            # the larger dim (Counter insertion order is batch-dependent)
            d = max(Counter(dims).items(), key=lambda kv: (kv[1], kv[0]))[0]
        idx, m = _mask_vstack(arrs, d)
        ids = ids[idx]  # null/ragged vectors form no pairs
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = np.nan  # zero vectors → no pair (cos undefined)
        sims = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        a, b = ids[iu], ids[ju]
        swap = a > b  # emit with id_a < id_b regardless of batch order
        a, b = np.where(swap, b, a), np.where(swap, a, b)
        cs = np.round(sims[iu, ju], 6)
        keep = cs >= threshold
        return pd.DataFrame({"id_a": a[keep], "id_b": b[keep], "cosine": cs[keep]})

    return slim.groupBy(group_col).applyInPandas(gemm, schema)


def _seq_sq_dists(mat, cb):
    """(n, d) rows vs (K, d) codebook → (n, K) squared L2, accumulated
    in EXPLICIT i = 0..d-1 order so every distance is bit-identical to
    the sequential fold the DuckDB oracles replay via list_sum
    ((0.0 + t0) + t1 + …; numpy's np.sum/einsum use pairwise summation
    and would differ in the last ulp — enough to flip an argmin on a
    near-tie)."""
    dist = np.zeros((mat.shape[0], cb.shape[0]), dtype=np.float64)
    for i in range(cb.shape[1]):
        diff = mat[:, i, None] - cb[None, :, i]
        dist += diff * diff
    return dist


def _mask_vstack(arrs, dim):
    """(valid-row indices, stacked matrix) for an Arrow batch of
    ``array<double>`` values that may contain NULL or wrong-length
    vectors (a raw ``np.vstack`` would raise inside the executor on the
    first ragged row — ADVICE r7). A row is valid when present, exactly
    ``dim`` long, and all-finite (a NULL element arrives as NaN and
    would otherwise poison the distance argmin silently). The all-valid
    fast path pays one length scan + one isfinite pass — negligible
    next to the GEMM it guards."""
    ok = np.fromiter(
        (a is not None and len(a) == dim for a in arrs),
        dtype=bool,
        count=len(arrs),
    )
    idx = np.flatnonzero(ok)
    if not len(idx):
        return idx, np.empty((0, dim), dtype=np.float64)
    mat = np.vstack(arrs if ok.all() else arrs[idx]).astype(
        np.float64, copy=False
    )
    finite = np.isfinite(mat).all(axis=1)
    if not finite.all():
        idx, mat = idx[finite], mat[finite]
    return idx, mat


def _dlit(x: float) -> str:
    """Shortest round-trip DOUBLE literal for SQL-text expression
    building (repr is exact; the D suffix pins DoubleType)."""
    return f"{float(x)!r}D"


def _darr_sql(vals) -> str:
    """SQL text for a DOUBLE array literal — one F.expr round-trip
    instead of len(vals) F.lit py4j calls (construction cost: K×dim
    literals built call-by-call measured 4-6 s of the old 7 s
    sim_pq_adc_topk wall at sf0.1)."""
    return "array(" + ",".join(_dlit(float(x)) for x in vals) + ")"




def ivf_seed_centroids(
    df: DataFrame,
    n_centroids: int,
) -> list[tuple[object, list[float]]]:
    """Deterministic IVF codebook: the ``n_centroids`` vectors with the
    smallest ids. A real deployment trains on a sample (see
    ``ivf_refine``); seeding by id keeps the whole index SQL-expressible
    so the DuckDB oracle can replay it. The codebook is tiny (K×dim) —
    collecting it to the driver is the standard IVF train step, not a
    driver-side data loop."""
    rows = (
        df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .limit(n_centroids)
        .collect()
    )
    return [(r[0], list(r[1])) for r in rows]


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[object, list[float]]],
) -> DataFrame:
    """Nearest-centroid cell id per vector — an Arrow-batched kernel:
    the K×dim codebook broadcasts inside the UDF closure, distances are
    BLAS-width numpy column ops accumulated in the oracle's sequential
    element order (`_seq_sq_dists`, bit-identical to the SQL fold), and
    ties break to the LOWEST cid (centroids sorted by cid; argmin takes
    the first minimum). At 100 TB the assigned table is written
    partitioned by ``ivf_cell`` so a probe is partition pruning;
    assignment itself is one scan-speed projection, no shuffle.

    Why a pandas UDF and not native expressions: the K×dim per-centroid
    distance tree is a higher-order-function fold, and HOFs never enter
    WholeStageCodegen — each lambda evaluates interpreted PER ELEMENT
    (512 lambda evaluations/row at K=8, dim=64; ~2 s of
    sim_kmeans_assign's sf1 time), while UNROLLED scalar terms at this
    width OOM janino's whole-stage compile. The Arrow batch does the
    same flops at numpy speed with the same result bits."""
    from pyspark.sql.functions import pandas_udf

    order = sorted(range(len(centroids)), key=lambda i: int(centroids[i][0]))
    cids = np.array([int(centroids[i][0]) for i in order], dtype=np.int64)
    cb = np.array(
        [[float(x) for x in centroids[i][1]] for i in order],
        dtype=np.float64,
    )

    @pandas_udf("long")
    def nearest(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        arrs = v.to_numpy()
        idx, mat = _mask_vstack(arrs, cb.shape[1])
        if len(idx) == len(arrs):  # all valid — no object boxing
            dist = _seq_sq_dists(mat, cb)
            return pd.Series(cids[np.argmin(dist, axis=1)])
        out = np.full(len(arrs), None, dtype=object)
        if len(idx):
            dist = _seq_sq_dists(mat, cb)
            out[idx] = cids[np.argmin(dist, axis=1)]
        return pd.Series(out)

    return df.withColumn(
        "ivf_cell", nearest(F.col("embedding").cast("array<double>"))
    )


def ivf_refine(
    df: DataFrame,
    centroids: list[tuple[object, list[float]]],
    iters: int = 2,
    round_to: int | None = None,
) -> list[tuple[object, list[float]]]:
    """Lloyd refinement of the codebook (the production IVF train path).
    Each iteration: native assignment + one groupBy computing per-cell
    element-wise means over the vector column, codebook collected back
    (K×dim floats). Empty cells keep their previous centroid.

    ``round_to`` rounds each refined mean to that many decimals: float
    summation order differs between engines (and between Spark runs at
    different parallelism), so a replaying oracle — or a reproducibility
    requirement — needs the centroids snapped to a fixed grid before the
    next assignment (see sim_kmeans_assign)."""
    dim = len(centroids[0][1])
    for _ in range(iters):
        assigned = ivf_assign(df, centroids)
        # per-element expressions as JVM-parsed SQL strings (r15, guide
        # §5): the Column-builder form paid ~4 py4j roundtrips per
        # element per iteration (dim=64 → ~0.2 s of driver latency per
        # Lloyd iteration); parsed trees are identical
        means = (
            assigned.selectExpr(
                "ivf_cell",
                *[
                    f"CAST(`embedding` AS ARRAY<DOUBLE>)[{i}] AS _e{i}"
                    for i in range(dim)
                ],
            )
            .groupBy("ivf_cell")
            .agg(*[F.expr(f"avg(_e{i}) AS _e{i}") for i in range(dim)])
            .collect()
        )
        updated = {r["ivf_cell"]: [r[f"_e{i}"] for i in range(dim)] for r in means}
        centroids = [(cid, updated.get(cid, cv)) for cid, cv in centroids]
        if round_to is not None:
            centroids = [
                (cid, [_snap_away(float(x), round_to) for x in cv])
                for cid, cv in centroids
            ]
    return centroids


def _snap_away(x: float, nd: int) -> float:
    """Half-AWAY-FROM-ZERO decimal snap: floor(|x|·10^nd + 0.5) with the
    sign reapplied by branch (not copysign, which would manufacture a
    -0.0 from x = -0.0 that a signbit-sensitive hash rejects). Python's
    round() is half-to-even, so a mean landing exactly on a 0.5·10^-nd
    boundary would diverge from the SQL replay's floor idiom — this is
    the exact expression the sim_kmeans_assign oracle now uses."""
    scale = 10.0 ** nd
    if x < 0:
        return -math.floor(-x * scale + 0.5) / scale
    return math.floor(x * scale + 0.5) / scale


def ann_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into Voronoi cells of
    a K-vector codebook, probe the ``nprobe`` cells nearest the query,
    exact cosine inside the probed cells only — scanning ~nprobe/K of the
    corpus. This is the scale path next to ``ann_topk_lsh``: at 100 TB
    the assigned table lives partitioned by cell and a query touches
    nprobe partitions. Probe selection runs on the driver over the K-row
    codebook (Python sequential sums mirror the oracle's list_sum)."""
    centroids = ivf_seed_centroids(df, n_centroids)
    if refine_iters:
        centroids = ivf_refine(df, centroids, refine_iters)

    def sqdist(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    probed = [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (sqdist(query_vec, c[1]), c[0])
        )[:nprobe]
    ]
    assigned = ivf_assign(df, centroids)
    q = F.expr(_darr_sql(query_vec))
    sim = cosine(F.col("embedding").cast("array<double>"), q)
    return (
        assigned.filter(F.col("ivf_cell").isin(probed))
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def pq_seed_codebooks(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: split the dim-vector
    into ``m`` contiguous subspaces; codebook j is the j-th subvector of
    the ``n_codes`` lowest-id vectors. Same rationale as
    ``ivf_seed_centroids``: a real deployment k-means-trains each
    subspace on a sample (``pq_refine``), but id-seeding keeps the whole
    index SQL-replayable. m codebooks × n_codes × (dim/m) floats = one
    dim×n_codes table on the driver — the standard PQ train step."""
    rows = (
        df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .limit(n_codes)
        .collect()
    )
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [list(r[1][j * d : (j + 1) * d]) for r in rows] for j in range(m)
    ]


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Vector → ``m`` uint8-range code indices (nearest codebook entry
    per subspace, squared-L2, ties to the lowest index): dim floats
    compress to m small ints — 32× for dim=64/m=8 — which is what makes
    a 100 TB embedding corpus ADC-searchable from memory.

    Arrow-batched kernel for the same reason as ``ivf_assign``: the
    native form is m × n_codes × d higher-order-function folds
    (1024 interpreted lambda evaluations per row at the defaults —
    measured ~8 s for 20k rows at sf1, vs ~1 s batched), HOFs never
    codegen, and the unrolled-scalar alternative OOMs janino. Distances
    accumulate in the oracle's sequential element order
    (`_seq_sq_dists`) and np.argmin's first-minimum IS the
    (distance, code) lexicographic tie-break, so codes — and every
    downstream ADC distance — keep the same bits the DuckDB replay
    produces."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    d = len(codebooks[0][0])
    cbs = [
        np.array([[float(x) for x in cv] for cv in codebooks[j]],
                 dtype=np.float64)
        for j in range(m)
    ]

    @pandas_udf("array<bigint>")
    def enc(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        idx, mat = _mask_vstack(arrs, m * d)
        codes = np.empty((mat.shape[0], m), dtype=np.int64)
        for j in range(m):
            dist = _seq_sq_dists(mat[:, j * d : (j + 1) * d], cbs[j])
            codes[:, j] = np.argmin(dist, axis=1)
        if len(idx) == len(arrs):  # all valid
            return pd.Series(list(codes))
        out = np.full(len(arrs), None, dtype=object)
        for pos, row in zip(idx, codes):
            out[pos] = row
        return pd.Series(out)

    return df.withColumn(
        "pq_codes", enc(F.col("embedding").cast("array<double>"))
    )


def pq_refine(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    iters: int = 2,
    round_to: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd refinement of the PQ codebooks (the production
    train path, like ``ivf_refine``). Each iteration: one batched
    encode pass, then ONE aggregation computing per-(subspace, code)
    element-wise subvector means (grouped by the exploded subspace
    index, so a single scan and a single m×n_codes-wide shuffle per
    iteration instead of m separate jobs), collected back
    (m × n_codes × d floats — a driver-side codebook, not a data
    loop). Empty codes keep their previous entry.

    ``round_to`` snaps each refined mean to a fixed decimal grid with
    half-away-from-zero (``_snap_away``) — same contract as
    ``ivf_refine``: float summation order differs between engines, so
    an oracle replay (sim_pq_train) needs grid-snapped centroids before
    the next assignment."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    for _ in range(iters):
        enc = pq_encode(df, codebooks)
        v = F.col("embedding").cast("array<double>")
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col("pq_codes")[j].alias("c"),
                        *[v[j * d + i].alias(f"_e{i}") for i in range(d)],
                    )
                    for j in range(m)
                ]
            )
        )
        means = (
            enc.select(pairs.alias("p"))
            .select("p.*")
            .groupBy("j", "c")
            .agg(*[F.avg(f"_e{i}").alias(f"_e{i}") for i in range(d)])
            .collect()
        )
        upd: dict = {}
        for r in means:
            vals = [r[f"_e{i}"] for i in range(d)]
            if round_to is not None:
                vals = [_snap_away(float(x), round_to) for x in vals]
            upd[(r["j"], r["c"])] = vals
        codebooks = [
            [upd.get((j, c), cv) for c, cv in enumerate(codebooks[j])]
            for j in range(m)
        ]
    return codebooks


def pq_adc_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds an
    m × n_codes lookup table of subspace distances ONCE (driver-side,
    mirroring the oracle's list arithmetic), and each vector's
    approximate distance is m table lookups summed left-to-right — no
    vector arithmetic per row at query time. ``orderBy(...).limit(k)``
    compiles to TakeOrderedAndProject (partial top-k per partition).
    The codes table is what a 100 TB deployment materializes; the
    encode step here exists so the query is self-contained."""
    codebooks = pq_seed_codebooks(df, m, n_codes)
    encoded = pq_encode(df, codebooks)
    d = len(codebooks[0][0])

    def sqdist(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    lut = [
        [
            sqdist(query_vec[j * d : (j + 1) * d], cv)
            for cv in codebooks[j]
        ]
        for j in range(m)
    ]
    # Reference pq_codes exactly ONCE: zip the codes array with the LUT
    # (an m × n_codes literal) and fold left-to-right. The obvious
    # per-subspace form `sum(lut_j[pq_codes[j]])` references pq_codes m
    # times, and CollapseProject inlines the expensive encode expression
    # into EVERY reference — the interpreted-HOF encode then runs m×
    # per row (measured 5.0 s → 1.07 s at sf0.1 for m=8). The fold sums
    # in the same j=0..m-1 order the oracle's sequential list_sum uses.
    lut_sql = "array(" + ",".join(
        "array(" + ",".join(_dlit(x) for x in row) + ")" for row in lut
    ) + ")"
    score = F.expr(
        f"aggregate(zip_with(pq_codes, {lut_sql},"
        f" (c, row) -> element_at(row, CAST(c + 1 AS INT))),"
        f" 0.0D, (acc, x) -> acc + x)"
    )
    return (
        encoded.select(
            F.col("vec_id"), F.round(score, 6).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Fixed seeded Gaussian hyperplanes for LSH signatures."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 16) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit i = sign(v·rᵢ).
    Planes are plan-time literals (constant arrays), dot products native —
    the signature costs n_planes array traversals at scan speed, no
    shuffle. Vectors in the same bucket are ANN candidates."""
    planes = random_hyperplanes(dim, n_planes)
    v = F.col("embedding").cast("array<double>")
    bucket: Column = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.expr(_darr_sql(plane))
        bit = F.when(dot(v, p) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, i))
    return df.withColumn("lsh_bucket", bucket)


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket the corpus once (amortized across
    queries), probe buckets within ``probe_hamming`` bits of the query's
    bucket, exact cosine inside the probed set. At 100 TB the bucketed
    table is written partitioned by bucket so a probe is partition
    pruning, not a scan."""
    dim = len(query_vec)
    bucketed = lsh_bucket(df, dim, n_planes)
    planes = random_hyperplanes(dim, n_planes)
    qsig = 0
    qv = np.asarray(query_vec, dtype=float)
    for i, plane in enumerate(planes):
        if float(qv @ plane) >= 0:
            qsig |= 1 << i
    probe = F.bit_count(F.col("lsh_bucket").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    q = F.expr(_darr_sql(query_vec))
    sim = cosine(F.col("embedding").cast("array<double>"), q)
    return (
        bucketed.filter(probe)
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def bucket_centroids(df: DataFrame, bucket: Column) -> DataFrame:
    """Element-wise mean vector per bucket — the codebook-build primitive
    behind IVF indexing and per-stratum embedding statistics. Long-form
    output (bucket, dim, centroid, n_vectors): posexplode → one hash
    aggregate keyed on (bucket, dim). Map-side partial aggregation means
    the shuffle carries buckets × dims partial sums, independent of
    corpus size — the same shape at 100 TB. (Long form deliberately: a
    collect_list reassembly adds a second shuffle and an
    ordering-sensitive array compare for zero analytical gain.)"""
    from stglib_spark.session import fast_round

    exploded = df.select(
        bucket.alias("bucket"),
        F.col("vec_id"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    )
    return (
        exploded.groupBy("bucket", "dim")
        .agg(
            fast_round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
            F.count_distinct(F.col("vec_id")).alias("n_vectors"),
        )
    )


def embedding_grid_groups(
    df: DataFrame,
    cell: float = 0.5,
    dims: int = 6,
) -> DataFrame:
    """Semantic near-dup grouping by embedding-space grid quantization:
    vectors whose first ``dims`` coordinates fall in the same
    ``cell``-sized lattice cell are grouped, and each group keeps its
    minimum id as the representative — the cheap exact-groupable tier of
    semantic dedup (SemDeDup-style), sitting below the bucketed-GEMM
    cosine verifier the way LSH banding sits below the Jaccard verifier.

    Scale shape: the grid code is a codegen'd projection (fixed-length
    concat of per-dimension floor indices — no Python, no higher-order
    lambda), and the rollup is one hash aggregate keyed on the code with
    map-side combine: the shuffle carries one short string + counters per
    DISTINCT cell, never embeddings. Boundary-straddling near-dups are
    deliberately out of scope for this tier (same tradeoff as any
    single-probe LSH); feed the groups to embedding_neardup for the
    cosine-verified pairs."""
    code = F.concat_ws(
        ",",
        *[
            F.floor(F.element_at(F.col("embedding"), i + 1) / cell).cast("long")
            for i in range(dims)
        ],
    )
    return (
        df.select(code.alias("grid_code"), F.col("vec_id"))
        .groupBy("grid_code")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("rep_id"),
        )
        .filter(F.col("n_members") >= 2)
    )
