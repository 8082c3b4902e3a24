"""Similarity search over embedding columns (north-star surface).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random hyperplane / IVF-style) variant as the 100 TB scale path.
Vector math uses native higher-order array functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the row path. The query side
is broadcast; the corpus side streams, so the exact search is a
single scan with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in doubles, accumulated in array order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _ordered_fold_dots(m, q_mat):
    """(n_rows × n_q) dot matrix with the LEFT-TO-RIT ARRAY-ORDER
    accumulation of the engine's `dot` expression — acc starts at 0.0
    and adds one per-dimension product at a time, so every pair's
    double sequence is ((0 + p₀) + p₁) + … exactly as the zip_with/
    aggregate fold produces (IEEE ops are deterministic; numpy only
    vectorizes ACROSS pairs, never reorders within one). A BLAS GEMM
    would be ~10× faster again but accumulates pairwise — NOT
    bit-identical — so it is deliberately not used on any path whose
    values the oracle hashes."""
    import numpy as np

    acc = np.zeros((m.shape[0], q_mat.shape[0]))
    for i in range(m.shape[1]):
        acc += np.multiply.outer(m[:, i], q_mat[:, i])
    return acc


def _ordered_fold_sq_norms(m):
    """Per-row Σx² with the array-order fold of `l2_norm` (pre-sqrt)."""
    import numpy as np

    acc = np.zeros(m.shape[0])
    for i in range(m.shape[1]):
        acc += m[:, i] * m[:, i]
    return acc


def _topk_ties_mask(cos, k, np):
    """Boolean (n_rows × n_q) mask keeping, per query column, every
    row whose score ties-or-beats the k-th largest — a SUPERSET of
    any top-k tie-break, so the caller's global (desc cos, asc id)
    window selects exactly the rows the unfiltered plan would.
    NaN maps to +inf first (Spark orders NaN as the LARGEST value in
    a descending sort, numpy comparisons would drop it)."""
    cosp = np.where(np.isnan(cos), np.inf, cos)
    if cosp.shape[0] <= k:
        return np.ones(cosp.shape, dtype=bool)
    thresh = np.partition(cosp, -k, axis=0)[-k, :]
    return cosp >= thresh[None, :]


_INTEGRAL_ID_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_integral_ids(op: str, *cols: tuple[str, str]) -> None:
    """The Arrow scoring kernels hold ids as int64 numpy arrays
    (to_numpy(dtype=np.int64)) — a string/decimal id would die inside
    the kernel with an opaque cast error at runtime (ADVICE r12).
    Validate up front with an error that names the restriction."""
    for name, dtype in cols:
        if dtype not in _INTEGRAL_ID_TYPES:
            raise TypeError(
                f"{op}: id column {name!r} has type {dtype}, but the "
                "Arrow scoring kernel supports integral ids only "
                f"({sorted(_INTEGRAL_ID_TYPES)}); map ids to integers "
                "upstream (e.g. xxhash64 or a dictionary join)"
            )


def knn_cosine_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    exclude_self: bool = False,
    max_query_rows: int = 1_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``exclude_self=True`` drops query_id == id pairs BEFORE the rank
    (for self-joins like the mutual-kNN graph) — filtering the self
    row after a k+1 rank is wrong when exact-duplicate vectors tie
    the self pair at cos = 1.0.

    r12 (optimization): the scoring stage is an Arrow kernel instead
    of the broadcast-nested-loop join over interpreted zip_with/
    aggregate folds (higher-order functions are CodegenFallback —
    measured ~5.6 µs per pair; the kernel is vectorized ACROSS pairs
    while keeping each pair's accumulation in ARRAY ORDER, so every
    _cos double is bit-identical to the old expression — see
    `_ordered_fold_dots`). The query set is driver-collected and
    task-broadcast (the identical memory class as the old
    `F.broadcast(q)` plan, now guarded loudly by ``max_query_rows``
    instead of an 8 GB broadcast cap); the corpus crosses the Python
    boundary once (id + vector only). Each batch emits only the
    per-query rows that tie-or-beat its k-th best (ties kept), so the
    final (desc cos, asc id) window ranks a candidates-superset and
    returns exactly the rows the all-pairs plan would — pinned by
    tests against the recorded oracle outputs.

    Scale contract unchanged: one corpus scan, nothing corpus-sized
    on the driver; this remains the EXACT baseline (cost O(N·Q·d) by
    definition) — the 100 TB path is the IVF/LSH family.

    Output: (query_id, vec_id, cosine_sim, rank) with rank 1..k,
    deterministic tie-break on vec_id.

    NOTE: constructing this DataFrame is EAGER — it runs a budget
    aggregate and collects the query set for the task broadcast
    (r12 kernel; guarded by the rows×dim ``max_query_rows`` budget).
    Ids must be integral types (loud TypeError otherwise — the
    kernel holds them as int64).
    """
    import numpy as np

    from .dedup import fan_out_narrow_input

    _require_integral_ids(
        "knn_cosine_bruteforce",
        (query_id_col, dict(queries.dtypes)[query_id_col]),
        (id_col, dict(corpus.dtypes)[id_col]),
    )
    # NOTE (laziness contract): building this DataFrame runs Spark
    # jobs NOW — a budget aggregate and then the query-set collect the
    # broadcast kernel needs. The budget is rows×dim CELLS, not rows
    # (ADVICE r12): driver collect + per-executor broadcast scale with
    # both, and 1M rows at 768-dim is ~6 GB pickled — the row-only
    # guard waved that through. The default envelope keeps the old
    # 1M-rows-at-64-dim operating point; checked BEFORE the collect so
    # the guard protects the driver, not just the executors.
    n_q, q_dim = queries.agg(
        F.count(F.lit(1)), F.max(F.size(vec_col))
    ).first()
    if n_q * (q_dim or 1) > max_query_rows * 64:
        raise ValueError(
            f"knn_cosine_bruteforce: query set is {n_q} rows × {q_dim} "
            f"dims = {n_q * (q_dim or 1)} cells > the "
            f"{max_query_rows * 64}-cell budget (max_query_rows="
            f"{max_query_rows} × 64); the driver collect and broadcast "
            "scoring kernel would OOM. Use the IVF kNN-join "
            "(knn_cosine_ivf(distributed_queries=True)) for "
            "corpus-scale query sets."
        )
    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = (
        np.array([list(r[1]) for r in q_rows], dtype=np.float64)
        if q_rows
        else np.zeros((0, 1))
    )
    q_norms = np.sqrt(_ordered_fold_sq_norms(q_mat))
    spark = corpus.sparkSession
    b_q = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))
    q_id_type = dict(queries.dtypes)[query_id_col]
    c_id_type = dict(corpus.dtypes)[id_col]
    out_schema = (
        f"{query_id_col} {q_id_type}, {id_col} {c_id_type}, _cos double"
    )

    def score(batches):
        import pandas as pd

        ids_q, qm, qn = b_q.value
        n_q = len(ids_q)
        for pdf in batches:
            if n_q == 0 or not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            # Row-chunk so the (rows × queries) accumulator stays
            # cache-resident regardless of the Arrow batch size.
            step = max(1, min(len(cids), 4_194_304 // max(n_q, 1)))
            for lo in range(0, len(cids), step):
                mm, cc = m[lo : lo + step], cids[lo : lo + step]
                dots = _ordered_fold_dots(mm, qm)
                cn = np.sqrt(_ordered_fold_sq_norms(mm))
                cos = dots / np.multiply.outer(cn, qn)
                if exclude_self:
                    cos[cc[:, None] == ids_q[None, :]] = -np.inf
                keep = _topk_ties_mask(cos, k, np)
                if exclude_self:
                    keep &= cc[:, None] != ids_q[None, :]
                ri, qi = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        query_id_col: ids_q[qi],
                        id_col: cc[ri],
                        "_cos": cos[ri, qi],
                    }
                )

    # The per-pair scoring is CPU-bound and runs at the INPUT
    # partitioning (no shuffle before it) — fan a narrow corpus out.
    scored = (
        fan_out_narrow_input(corpus)
        .select(id_col, vec_col)
        .mapInPandas(score, out_schema)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_cos"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("_cos", 4).alias("cosine_sim"),
            "rank",
        )
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure python,
    driver-side, tiny) for cosine LSH bucketing."""
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def all_plane_projections(vec: Column, planes: list[list[float]]) -> Column:
    """array<double> of ⟨vec, pᵢ⟩ for every plane — ONE transform over
    a constant plane matrix. Building a separate aggregate expression
    per plane instead makes the expression tree (and its compile
    time) scale with n_planes; this keeps it constant."""
    planes_lit = F.lit([[float(x) for x in p] for p in planes])
    return F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection code → one bigint bucket id per vector
    (hash of the sign pattern; bucket ids only need equality)."""
    projs = all_plane_projections(vec, planes)
    signs = F.transform(projs, lambda p: F.when(p >= 0, "1").otherwise("0"))
    return F.xxhash64(F.concat_ws("", signs))


def _table_buckets(vec: Column, planes_by_table: list[list[list[float]]]) -> Column:
    """array<struct<tbl,bucket>> — ALL tables' bucket codes from one
    flattened projection pass (constant-size expression tree: the
    plane matrix is a single literal, the per-table slicing happens
    inside one transform)."""
    n_tables = len(planes_by_table)
    n_planes = len(planes_by_table[0])
    flat = [p for table in planes_by_table for p in table]
    projs = all_plane_projections(vec, flat)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.alias("tbl"),
            F.xxhash64(
                F.concat_ws(
                    "",
                    F.transform(
                        F.slice(projs, t * n_planes + 1, n_planes),
                        lambda p: F.when(p >= 0, "1").otherwise("0"),
                    ),
                ),
                t,
            ).alias("bucket"),
        ),
    )


def knn_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with ``n_tables``
    independent codebooks; candidates = corpus vectors sharing a
    bucket with a query in ANY table (one explode + one join), then
    exact cosine re-rank.

    At 100 TB the bucket join replaces the full-corpus scan per query
    batch with a key-partitioned probe — the standard ANN trade: may
    miss true neighbors (recall < 1, raise n_tables / lower n_planes
    to trade cost for recall).
    """
    from .dedup import fan_out_narrow_input

    planes_by_table = [
        random_hyperplanes(dim, n_planes, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    c_b = fan_out_narrow_input(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.explode(_table_buckets(F.col(vec_col), planes_by_table)).alias("_tb"),
    ).select(id_col, vec_col, "_cn", "_tb.tbl", "_tb.bucket")
    q_b = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.explode(_table_buckets(F.col(vec_col), planes_by_table)).alias("_tb"),
    ).select(query_id_col, "_qvec", "_qn", "_tb.tbl", "_tb.bucket")

    cand = (
        c_b.join(F.broadcast(q_b), on=["tbl", "bucket"])
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        (dot(F.col("_qvec"), F.col(vec_col))
         / (F.col("_qn") * F.col("_cn"))).alias("_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("_cos", 4).alias("cosine_sim"), "rank")
    )


def cosine_pairs_grid(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
    max_blocks: int = 64,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold, fully distributed — the
    100 TB-safe shape (no driver collect, no full-corpus broadcast;
    replaces the collect() kernel flagged in VERDICT r1 #3).

    Grid self-join: vectors hash into ``n_blocks`` blocks; each
    unordered block pair (bi ≤ bj) becomes ONE applyInPandas group
    holding just those two blocks' rows, scored with a single numpy
    GEMM. Per-task memory is O(2·N/B·d) regardless of corpus size —
    pick n_blocks so a block fits an executor. Each row is replicated
    ~(B+1)/2 ≈ B/2 times on average (its own block-diagonal pair plus
    one side of each cross pair), the standard exact all-pairs
    trade: compute stays O(N²·d) (inherent to exactness) but memory
    and parallelism are controlled. For sub-quadratic candidate
    generation use LSH banding (knn_cosine_lsh) instead.

    Emits (vec_a, vec_b, cosine_sim) with vec_a < vec_b, ROUND(4) —
    bit-identical contract to :func:`cosine_pairs_blocked` (same
    normalized-float64 GEMM; asserted in tests).
    """
    import math

    import numpy as np  # noqa: F401  (kernel imports inside the UDF)

    spark = corpus.sparkSession
    if n_blocks is None:
        # Size blocks from a (parquet-metadata-cheap) count so each
        # applyInPandas group holds ~2·rows_per_block vectors: small
        # corpora get few groups (Python worker overhead dominates),
        # big ones get bounded per-task memory. Shuffle replication is
        # ~B/2 per row — the inherent exact-all-pairs cost — so B is
        # capped; past ~max_blocks·rows_per_block vectors, exact
        # all-pairs is the wrong tool (use LSH banding).
        n = corpus.count()
        n_blocks = max(1, min(max_blocks, math.ceil(n / rows_per_block)))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    base = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("_b"),
    )
    left = base.join(F.broadcast(pairs), base["_b"] == pairs["bi"]).select(
        "bi", "bj", F.lit(0).alias("_side"), "_id", "_v"
    )
    right = base.join(
        F.broadcast(pairs),
        (base["_b"] == pairs["bj"]) & (pairs["bi"] != pairs["bj"]),
    ).select("bi", "bj", F.lit(1).alias("_side"), "_id", "_v")
    tagged = left.unionByName(right)

    def emit(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = key
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["_v"]), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0] = 1.0
        mn = m / norms[:, None]
        if bi == bj:
            sims = mn @ mn.T
            ai, bx = np.nonzero(sims >= threshold)
            la, rb = ids[ai], ids[bx]
            keep = la < rb  # drop self-pairs + one of each mirrored pair
            la, rb, s = la[keep], rb[keep], sims[ai[keep], bx[keep]]
        else:
            a_idx = np.flatnonzero(pdf["_side"].to_numpy() == 0)
            b_idx = np.flatnonzero(pdf["_side"].to_numpy() == 1)
            sims = mn[a_idx] @ mn[b_idx].T
            ai, bx = np.nonzero(sims >= threshold)
            xa, xb = ids[a_idx[ai]], ids[b_idx[bx]]
            # Blocks are disjoint: each cross pair appears once, but id
            # order vs block order is arbitrary — canonicalize.
            la, rb = np.minimum(xa, xb), np.maximum(xa, xb)
            s = sims[ai, bx]
        return pd.DataFrame(
            {"vec_a": la, "vec_b": rb, "cosine_sim": np.round(s, 4)}
        )

    return tagged.groupBy("bi", "bj").applyInPandas(
        emit, "vec_a long, vec_b long, cosine_sim double"
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    max_rows: int = 2_000_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via a blocked matrix product
    against a driver-collected, broadcast corpus matrix.

    The Arrow-batched escape hatch for dense vector math: interpreted
    higher-order array functions cost ~µs per element; numpy's BLAS
    does the same block in nanoseconds. Each partition's block A
    (n×d) multiplies the broadcast, pre-normalized corpus matrix Mᵀ
    (d×N) in one GEMM; pairs above threshold stream out.

    Scale contract: the corpus matrix must fit on the driver AND in
    every executor (1M×256-d float64 ≈ 2 GB) — enforced by a loud
    ``max_rows`` guard rather than a silent OOM. Above the bound use
    :func:`cosine_pairs_grid` (same exact result, no single-node
    materialization) or LSH banding for sub-quadratic candidates.
    Emits (vec_a, vec_b, cosine_sim) with vec_a < vec_b, ROUND(4).
    """
    import numpy as np

    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs_blocked: corpus has {n} rows > max_rows="
            f"{max_rows}; the collect/broadcast kernel would OOM the "
            "driver. Use cosine_pairs_grid (distributed exact) or "
            "knn_cosine_lsh (sub-quadratic approximate) instead."
        )
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    matn = mat / norms[:, None]

    spark = corpus.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(matn)

    def block(batches):
        import pandas as pd

        all_ids = b_ids.value
        m = b_mat.value
        pos = {int(v): i for i, v in enumerate(all_ids)}
        for pdf in batches:
            idx = np.array([pos[int(v)] for v in pdf[id_col]], dtype=np.int64)
            a = m[idx]                       # (n, d), already normalized
            sims = a @ m.T                   # one GEMM: (n, N)
            ai, bj = np.nonzero(sims >= threshold)
            left = all_ids[idx[ai]]
            right = all_ids[bj]
            keep = left < right              # dedup + drop self-pairs
            yield pd.DataFrame(
                {
                    "vec_a": left[keep],
                    "vec_b": right[keep],
                    "cosine_sim": np.round(sims[ai[keep], bj[keep]], 4),
                }
            )

    return corpus.select(id_col).mapInPandas(
        block, "vec_a long, vec_b long, cosine_sim double"
    )


def _assign_cells(df, id_col, vec_col, centroids, extra_cols=()):
    """(id, cell) assignment via blocked GEMM against broadcast
    centroids (numpy; same Arrow escape hatch as cosine_pairs_blocked)."""
    import numpy as np

    spark = df.sparkSession
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None]
    b_c = spark.sparkContext.broadcast(cn)
    cols = [id_col, vec_col, *extra_cols]
    out_schema = f"{id_col} long, cell int"

    def assign(batches):
        import pandas as pd

        cm = b_c.value
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1), 1e-12)[:, None]
            cells = (mn @ cm.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame({id_col: pdf[id_col], "cell": cells})

    return df.select(*cols).mapInPandas(assign, out_schema)


def _assign_probe_cells(
    queries,
    query_id_col,
    vec_col,
    centroids,
    n_probe: int,
    vec_out: str = "_qvec",
    norm_out: str = "_qn",
):
    """(id, cell, <vec_out>, <norm_out>): the ``n_probe`` nearest
    centroid cells per row, computed DISTRIBUTEDLY (blocked GEMM
    against the broadcast centroid matrix, n_probe rows emitted per
    input row) — the corpus-scale twin of knn_cosine_ivf's
    driver-side probe-list build, and with ``n_probe=1`` the CARRYING
    cell assignment for the corpus side (the vector rides along, so
    no join back to the source table is ever needed). Tie-break:
    (-sim, cell index) on sims QUANTIZED to 12 decimals — without the
    rounding, a mathematically exact tie can round differently under
    the batch GEMM here vs the driver path's matrix-vector product
    (different BLAS accumulation order) and the two paths would probe
    different cells; 1e-12 is far below any meaningful cosine
    difference (hypothesis found the divergence on an exact-tie
    grid). ``norm_out`` is computed Spark-side with the same l2_norm
    expression as the driver path (bit-identical summation), not in
    numpy."""
    import numpy as np

    spark = queries.sparkSession
    c = np.asarray(centroids, dtype=np.float64)
    # Clamp like the collected path does implicitly (argsort over
    # n_cells columns yields at most n_cells probes): n_probe >
    # n_cells would repeat ids n_probe times against an
    # order-matrix of only n_cells columns and die inside pandas
    # with an opaque length mismatch (ADVICE r10).
    n_probe = min(n_probe, len(c))
    cn = c / np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None]
    b_c = spark.sparkContext.broadcast(cn)
    out_schema = f"{query_id_col} long, cell int, {vec_out} array<double>"

    def assign(batches):
        import pandas as pd

        cm = b_c.value
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1), 1e-12)
            sims = np.round((m / norms[:, None]) @ cm.T, 12)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            # Repeat the ORIGINAL Arrow array objects for the carried
            # vector (r13): building n_probe fresh Python lists per
            # row from the float64 matrix copies every value through
            # Python floats; the source column already holds the same
            # doubles (schema array<double>), so repeating references
            # is value-identical and kernel-CPU-free.
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].to_numpy().repeat(n_probe),
                    "cell": order.reshape(-1).astype("int32"),
                    vec_out: pdf[vec_col].to_numpy().repeat(n_probe),
                }
            )

    return queries.select(query_id_col, vec_col).mapInPandas(
        assign, out_schema
    ).withColumn(norm_out, l2_norm(F.col(vec_out)))


def _score_cells_cogroup(
    corpus_cells: DataFrame,
    probe: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Candidate generation + exact cosine scoring for the cell-join
    regime (IVF kNN-join / persisted-index join) as ONE
    cogroup-by-cell Arrow kernel (r12 optimization).

    Replaces `corpus_cells.join(probe, "cell")` + the interpreted
    zip_with/aggregate fold per candidate pair: the cogroup IS the
    equi-join on cell (both sides shuffle by cell exactly as before),
    but each side's vectors cross the Python boundary ONCE PER CELL
    instead of once per candidate pair through the joined rows, and
    scoring is vectorized across pairs while each pair keeps the
    ARRAY-ORDER accumulation (`_ordered_fold_dots`) — every _cos
    double is bit-identical to the old `dot(_qvec, vec)/(_qn*_cn)`
    expression (norms are the carried Spark-side `l2_norm` columns,
    untouched). Only per-(cell, query) rows that tie-or-beat the
    cell-local k-th best leave the kernel (ties kept), a superset of
    every query's global top-k, so the caller's (desc _cos, asc id)
    window returns exactly the rows the join plan would.

    Emits (query_id, id, _cos)."""
    import numpy as np

    q_id_type = dict(probe.dtypes)[query_id_col]
    c_id_type = dict(corpus_cells.dtypes)[id_col]
    _require_integral_ids(
        "_score_cells_cogroup",
        (query_id_col, q_id_type),
        (id_col, c_id_type),
    )
    out_schema = (
        f"{query_id_col} {q_id_type}, {id_col} {c_id_type}, _cos double"
    )

    def score(left, right):
        import pandas as pd

        if not len(left) or not len(right):
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "_cos": []}
            )
        cids = left[id_col].to_numpy(dtype=np.int64)
        m = np.array(list(left[vec_col]), dtype=np.float64)
        cn = left["_cn"].to_numpy(dtype=np.float64)
        qids = right[query_id_col].to_numpy(dtype=np.int64)
        qm = np.array(list(right["_qvec"]), dtype=np.float64)
        qn = right["_qn"].to_numpy(dtype=np.float64)
        outs = []
        # Row-chunk so the (rows × queries) score block stays
        # cache-resident whatever the cell size.
        step = max(1, min(len(cids), 4_194_304 // max(len(qids), 1)))
        for lo in range(0, len(cids), step):
            cos = _ordered_fold_dots(
                m[lo : lo + step], qm
            ) / np.multiply.outer(cn[lo : lo + step], qn)
            keep = _topk_ties_mask(cos, k, np)
            ri, qi = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        query_id_col: qids[qi],
                        id_col: cids[lo : lo + step][ri],
                        "_cos": cos[ri, qi],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        corpus_cells.select("cell", id_col, vec_col, "_cn")
        .groupBy("cell")
        .cogroup(
            probe.select("cell", query_id_col, "_qvec", "_qn").groupBy(
                "cell"
            )
        )
        .applyInPandas(score, out_schema)
    )


def kmeans_centroids(
    corpus,
    dim: int,
    n_cells: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means coarse quantizer, deterministic.

    Init: the ``n_cells`` vectors with the smallest ids (seed-free,
    replay-stable). Each Lloyd iteration: assign (blocked GEMM) →
    per-cell per-dimension mean (posexplode + partial-aggregated
    avg) → renormalize driver-side (centroid matrix is tiny:
    n_cells × dim). Returns list[list[float]].
    """
    import numpy as np

    init = (
        corpus.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    )
    centroids = [list(r[0]) for r in init]

    for _ in range(iters):
        assigned = _assign_cells(corpus, id_col, vec_col, centroids)
        joined = corpus.select(id_col, vec_col).join(assigned, id_col)
        sums = (
            joined.select(
                "cell", F.posexplode(vec_col).alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new = np.array(centroids, dtype=np.float64)
        for r in sums:
            new[r.cell][r.pos] = r.mean
        centroids = new.tolist()
    return centroids


def knn_cosine_ivf(
    corpus,
    queries,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_cells: int | str = "auto",
    n_probe: int | str = "auto",
    iters: int = 3,
    max_query_rows: int = 1_000_000,
    distributed_queries: bool = False,
):
    """IVF-style approximate kNN: k-means cells over the corpus; each
    query probes its ``n_probe`` nearest cells; exact cosine re-rank
    within the probed candidates.

    Scale shape: the corpus is partitioned by cell ONCE (inverted
    file); each query batch touches n_probe/n_cells of the data — the
    classic recall/cost dial. Candidate generation is an equi-join on
    cell (one shuffle); re-ranking reuses the exact cosine kernel.

    Operating point: ``n_cells="auto"`` sizes the quantizer as
    ``max(16, round(sqrt(N)))`` — the published FAISS IVF guidance
    (nlist ≈ √N keeps cell size ≈ √N, balancing quantizer cost
    against scan cost) — and ``n_probe="auto"`` probes a quarter of
    the cells. A FIXED nlist is wrong in both directions: r9 ran
    nlist=16 on a 2000-vector corpus (125/cell — too coarse,
    recall@10 0.716) while nlist=64 on the 500-vector corpus drops a
    query below the 7/10 floor (neighbors scatter across >n_probe
    tiny cells). Measured at the √N point (sf0.1 50-query panel):
    recall@10 0.926, per-query floor ≥8 at every test scale. Auto
    mode costs one ``corpus.count()`` (parquet metadata-cheap); at
    trillion-row scale pass explicit nlist/nprobe and dial
    nprobe/nlist well below 1/4.

    Scale contract, two query regimes:

    * default (``distributed_queries=False``): the QUERY set is
      driver-collected to build the per-query probe list (n_probe
      cell ids each), so it must fit on the driver — enforced by a
      loud ``max_query_rows`` guard, exactly like
      :func:`cosine_pairs_blocked`'s corpus guard. The probe list and
      query vectors broadcast into the candidate join — right when
      queries ≪ corpus.
    * ``distributed_queries=True``: probe cells are assigned
      executor-side (:func:`_assign_probe_cells` — blocked GEMM
      against the broadcast centroids, n_probe rows per query with
      the query vector riding along), candidate generation is ONE
      shuffle equi-join on cell, and nothing query-sized ever touches
      the driver — the kNN-JOIN regime (queries AT corpus scale,
      e.g. every document finding its neighbors for semantic dedup).
      Identical results to the default path (same centroids, same
      (-sim, index) probe tie-break on 1e-12-quantized sims so a
      BLAS-path rounding difference cannot flip an exact tie,
      bit-identical scoring) — pinned by
      test_ivf_distributed_equals_collected.
    """
    import math

    import numpy as np

    if not distributed_queries:
        n_q = queries.count()
        if n_q > max_query_rows:
            raise ValueError(
                f"knn_cosine_ivf: query set has {n_q} rows > max_query_rows="
                f"{max_query_rows}; the driver-side probe-list build would "
                "OOM. Pass distributed_queries=True (executor-side probe "
                "assignment, one shuffle join on cell) for corpus-scale "
                "query sets."
            )
    if n_cells == "auto":
        n_cells = max(16, round(math.sqrt(corpus.count())))
    if n_probe == "auto":
        # Regime-split operating point (VERDICT r10 #3, measured
        # curve in SCALING.md §ANN): the collected regime keeps the
        # published FAISS quarter-probe (panel recall@10 0.926); the
        # kNN-JOIN regime (queries = corpus, semantic-dedup) probes
        # HALF the cells — corpus-wide mean recall@10 0.677 → 0.870
        # at sf0.1 with wall time flat at test scale (probe/k-means
        # overhead dominates candidate scoring there). At production
        # scale candidate scoring is the cost and half-probe is 2× a
        # quarter-probe scan — the curve is monotone and callers dial
        # n_probe explicitly when recall 0.68 is enough.
        n_probe = max(
            4, round(n_cells / (2 if distributed_queries else 4))
        )
    # Probing more cells than exist is the same as probing them all;
    # without the clamp the distributed path crashed in pandas while
    # the collected path degraded gracefully (ADVICE r10) — e.g.
    # explicit n_cells=2 with auto n_probe (=4).
    n_probe = min(n_probe, n_cells)

    centroids = kmeans_centroids(
        corpus, dim, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None]

    # Carrying assignment (r10): the vector and its norm ride along
    # with the cell, so the corpus is never joined back to itself —
    # the previous assign-then-join-on-id shape cost a corpus-sized
    # shuffle at scale before the cell join even started. Cell
    # tie-break matches the probe side: (-sim, index) on
    # 1e-12-quantized sims.
    corpus_cells = _assign_probe_cells(
        corpus, id_col, vec_col, centroids, 1,
        vec_out=vec_col, norm_out="_cn",
    )

    if distributed_queries:
        # Executor-side probe assignment; a corpus vector lives in
        # exactly ONE cell and each query's probe cells are distinct,
        # so (query, id) candidate pairs are unique by construction —
        # no dropDuplicates (and no extra shuffle). Candidate join +
        # scoring run as one cogroup-by-cell Arrow kernel (r12,
        # `_score_cells_cogroup` — bit-identical _cos, vectors cross
        # the Python boundary per cell, not per candidate pair).
        probe = _assign_probe_cells(
            queries, query_id_col, vec_col, centroids, n_probe
        )
        scored = _score_cells_cogroup(
            corpus_cells, probe, id_col, vec_col, query_id_col, k
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.desc("_cos"), F.asc(id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                query_id_col,
                id_col,
                F.round("_cos", 4).alias("cosine_sim"),
                "rank",
            )
        )
    else:
        # Driver-side probe list per query (query set is the small
        # side — bounded by the max_query_rows guard above).
        q_rows = queries.select(query_id_col, vec_col).collect()
        probes = []
        for r in q_rows:
            v = np.asarray(r[1], dtype=np.float64)
            v = v / max(np.linalg.norm(v), 1e-12)
            order = np.argsort(-np.round(cn @ v, 12), kind="stable")[:n_probe]
            probes.extend((int(r[0]), int(cell)) for cell in order)
        spark = corpus.sparkSession
        probe_df = spark.createDataFrame(
            probes, f"{query_id_col} long, cell int"
        )
        q_vec = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
        cand = (
            corpus_cells.join(F.broadcast(probe_df), "cell")
            .join(F.broadcast(q_vec), query_id_col)
            .dropDuplicates([query_id_col, id_col])
        )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        (dot(F.col("_qvec"), F.col(vec_col))
         / (F.col("_qn") * F.col("_cn"))).alias("_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("_cos", 4).alias("cosine_sim"), "rank")
    )


def knn_join_ivf_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """kNN-join against a PERSISTED IVF index — the production shape
    where the quantizer is fitted once and the corpus is assigned
    once (`streaming/ingest.ivf_index_stream` maintains the index
    incrementally; `read_ivf_index_merged` yields these rows):
    ``index`` is (id, cell, vector, _cn) partitioned by cell on
    storage, so every query batch pays ONLY executor-side probe
    assignment + one equi-join on cell + exact cosine rerank — no
    k-means fit, no corpus assignment, per batch.

    Bit-identical to `knn_cosine_ivf(distributed_queries=True)` over
    the same corpus and centroids (same `_assign_probe_cells`
    quantized tie-break, same Spark-side l2_norm, same scoring fold —
    both paths share `_score_cells_cogroup` since r12 — and
    (desc cos, asc id) window) — pinned by test_stateful_streaming's
    streaming-IVF twin."""
    probe = _assign_probe_cells(
        queries, query_id_col, vec_col, centroids, n_probe
    )
    scored = _score_cells_cogroup(
        index, probe, id_col, vec_col, query_id_col, k
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("_cos", 4).alias("cosine_sim"), "rank")
    )


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """All-pairs cosine over sparse term-frequency vectors ≥ threshold.

    The classic bag-of-words similarity — no embedding model needed —
    with frequency weighting that set-based Jaccard discards: a doc
    that repeats a phrase 10× and one that mentions it once are
    near-identical as SETS but far apart as tf VECTORS.

    Cross-engine exact by construction: the dot product and the
    squared norms are INTEGER sums (order-independent under any
    partitioning), and only the final sqrt/divide touch doubles —
    bit-identical IEEE ops on both engines, so the DuckDB oracle
    hash-matches without tolerance. Output: (doc_a, doc_b, cosine_tf),
    doc_a < doc_b. Hot grams are the quadratic risk at 100 TB, exactly
    as in jaccard_pairs — cap gram document frequency upstream or
    screen through the MinHash index first.

    Hash keys and eager materialisation: see
    ``dedup._self_join_pairs``.
    """
    from .dedup import _postings, _self_join_pairs

    pairs = _self_join_pairs(
        _postings(df, id_col, text_col, n, tf=True), id_col
    )
    cos = F.col("inter") / (F.sqrt("size_a") * F.sqrt("size_b"))
    return pairs.where(cos >= threshold).select(
        "doc_a", "doc_b", F.round(cos, 4).alias("cosine_tf")
    )


def radius_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    radius: float = 0.5,
) -> DataFrame:
    """Range similarity search: ALL corpus vectors with cosine ≥
    ``radius`` of each query — the threshold twin of top-k kNN
    (`knn_cosine_bruteforce`), for callers who need "everything this
    similar" (dedup radii, recall sweeps) rather than a fixed k.

    Same scale shape as the exact kNN: queries broadcast, corpus
    scanned ONCE with JVM-side dot products, no shuffle at all — the
    output is the filter's survivors, so unlike top-k there is no
    per-query window either. Output: (query_id, id, cosine_sim).
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    cos = dot(F.col("_qvec"), F.col(vec_col)) / (
        F.col("_qn") * l2_norm(F.col(vec_col))
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .where(cos >= radius)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cos, 4).alias("cosine_sim"),
        )
    )


def sign_cell(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection cell id as a PLAIN integer code (Σ 2ʲ over
    planes with ⟨vec, pⱼ⟩ ≥ 0) — unlike ``lsh_bucket`` no hash is
    applied, so the assignment is reproducible in any engine that can
    evaluate the same dot products (the differential-test property
    ``semantic_dedup`` needs)."""
    projs = all_plane_projections(vec, planes)
    bits = F.transform(
        projs,
        lambda p, i: F.when(
            p >= 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a + b)


def semantic_dedup(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DataFrame:
    """SemDeDup-style embedding-space deduplication (Abbas et al.
    2023): partition the corpus into cheap cells (sign-LSH here; the
    paper uses k-means — same role), enumerate exact cosine pairs
    ONLY within a cell, cluster transitively, keep the min-id
    representative. Cross-cell near-dups are the documented recall
    trade — the cell count is the cost/recall dial exactly like the
    paper's k.

    Output: one row per corpus vector — (id, component, is_rep);
    downstream keeps ``is_rep`` rows. Scale shape: one projection
    computes norms + cell codes, the pair join shuffles on the CELL
    key (never all-pairs), connected components moves only id pairs,
    and the final left join restores singletons without rescanning
    vectors.
    """
    from .dedup import fan_out_narrow_input
    from .graph import connected_components

    b = fan_out_narrow_input(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_n"),
        sign_cell(F.col(vec_col), planes).alias("_cell"),
    )
    a = b.select(
        F.col(id_col).alias("doc_a"),
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
        "_cell",
    )
    c = b.select(
        F.col(id_col).alias("doc_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
        "_cell",
    )
    pairs = (
        a.join(c, "_cell")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    cc = connected_components(pairs)
    return (
        corpus.select(F.col(id_col))
        .join(cc, F.col(id_col) == F.col("vertex"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            (
                F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
            ).alias("is_rep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the FAISS-style
# compressed ANN serving path: split each vector into m subvectors,
# quantize each against its own small codebook, store m small codes
# per vector. Search scores candidates with an Asymmetric Distance
# Computation (ADC) lookup table instead of touching raw floats.
# ---------------------------------------------------------------------------


def pq_codebooks(
    dim: int, n_sub: int, k: int, seed: int = 101, scale: float = 0.15
) -> list[list[list[float]]]:
    """Per-subspace codebooks (driver-side constants; in production
    these come from a per-subspace `kmeans.lloyd` fit over a sample —
    same train-batch/serve-everywhere split as the centroid family)."""
    from .kmeans import seeded_centroids

    assert dim % n_sub == 0
    sub = dim // n_sub
    return [
        seeded_centroids(sub, k, seed=seed + s, scale=scale)
        for s in range(n_sub)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes array<int>, recon_err double): nearest-codeword id
    per subspace plus the total squared reconstruction error.

    Shuffle-free, exactly like `kmeans.assign`: the m×k×(dim/m)
    codebook tensor rides as plan literals, each subspace argmin is
    JVM-side array math over a slice, and a vector compresses from
    dim floats to m small ints — the 32×+ storage cut that makes
    billion-vector candidate scans memory-resident."""
    from .kmeans import squared_distances

    sub = len(codebooks[0][0])
    dists = [
        squared_distances(F.slice(F.col(vec_col), s * sub + 1, sub), cb)
        for s, cb in enumerate(codebooks)
    ]
    # Two-step select (r12, the kmeans.assign `_dists` pattern): each
    # subspace's distance array is NAMED once and the argmin/min
    # consumers reference the column, instead of repeating the
    # interpreted transform/zip_with fold three times per subspace
    # per row (codes position, codes min, err min). CollapseProject
    # keeps the split because the producer is non-cheap and
    # multiply-referenced. Values are the identical expressions.
    tmp = df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        *[d.alias(f"_pqd{s}") for s, d in enumerate(dists)],
    )
    named = [F.col(f"_pqd{s}") for s in range(len(dists))]
    codes = F.array(
        *[
            (F.array_position(d, F.array_min(d)).cast("int") - F.lit(1))
            for d in named
        ]
    )
    err = sum(
        (F.array_min(d) for d in named[1:]), start=F.array_min(named[0])
    )
    return tmp.select(
        F.col(id_col),
        codes.alias("codes"),
        err.alias("recon_err"),
        *[F.col(c) for c in (keep_cols or [])],
    )


def pq_adc_scores(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """ADC scoring: dist_est(x) = Σ_s ‖q_s − codebook_s[code_s(x)]‖².

    The per-(subspace, codeword) distances form an m×k lookup table
    computed ONCE driver-side from the literal query and inlined as a
    constant — scoring a candidate is m integer-indexed lookups and
    adds, no float vector math per row, no shuffle. This is the scan
    shape that makes PQ search bandwidth-bound instead of
    compute-bound at billion-vector scale."""
    sub = len(codebooks[0][0])
    lut = [
        [
            _fold_sq_dist(query[s * sub : (s + 1) * sub], c)
            for c in cb
        ]
        for s, cb in enumerate(codebooks)
    ]
    lut_lit = F.lit([[float(v) for v in row] for row in lut])
    est = F.aggregate(
        F.zip_with(
            lut_lit,
            F.col("codes"),
            lambda row, c: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return encoded.select(
        F.col(id_col),
        "codes",
        est.alias("est_dist"),
        *[F.col(c) for c in (keep_cols or [])],
    )


def _fold_sq_dist(a: list[float], b: list[float]) -> float:
    """Driver-side ordered fold matching the engine's (and the
    oracle's) term order: ((0 + t₁) + t₂) + …"""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def ivf_pq_search(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search (the FAISS billion-scale architecture): coarse
    k-means cells prune the candidate set, PQ codes + an ADC lookup
    table score what survives — the corpus' raw floats are touched
    only at encode time, never at search time.

    Everything the query needs is a compile-time constant: the probed
    cell set is computed DRIVER-SIDE from the literal query and
    coarse centroids (nprobe nearest, deterministic index tie-break)
    and lands in the plan as a literal IN-filter, so Catalyst prunes
    candidates before any scoring; the ADC table is the same inlined
    constant as `pq_adc_scores`. One scan → filter → per-row lookup
    adds → TakeOrderedAndProject(k). At scale the encode pass is a
    one-time batch job (cells + codes persisted, partitioned by
    cell) and THIS plan reads only the probed partitions.

    Simplification vs production FAISS: codes quantize raw vectors,
    not per-cell residuals — the residual refinement changes the
    encode pass only; the search shape here is identical.
    """
    from .kmeans import assign

    cd = [
        _fold_sq_dist(query, c) for c in coarse_centroids
    ]
    probed = sorted(range(len(cd)), key=lambda i: (cd[i], i))[:nprobe]

    # single pass: cells, probe filter, codes, and ADC score are all
    # projections/filters over ONE scan — no self-joins
    cells = assign(corpus, coarse_centroids, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(
        cells.where(F.col("cluster_id").isin(probed)),
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        keep_cols=["cluster_id"],
    )
    scored = pq_adc_scores(
        enc, codebooks, query, id_col=id_col, keep_cols=["cluster_id"]
    )
    return (
        scored.orderBy(F.asc("est_dist"), F.asc(id_col))
        .limit(k)
        .select(
            id_col,
            F.col("cluster_id").cast("int").alias("cell"),
            "est_dist",
        )
    )


def pq_encode_corpus(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stage 1 of the IVF-PQ index, factored out so the batch join
    (`pq_knn_join`) and the streaming maintainer
    (`streaming/ingest.pq_index_stream`) share ONE encode path:
    coarse-assign then PQ-encode (residual or raw) — shuffle-free
    projections, output (id, cell, codes[, cluster_id]). At scale
    these rows ARE the persisted compressed index, partitioned by
    cell; ~m bytes per vector instead of 8·dim."""
    from .kmeans import assign

    if residual:
        enc = pq_encode_residual(
            corpus, coarse_centroids, codebooks,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        enc = pq_encode(
            assign(corpus, coarse_centroids, id_col=id_col, vec_col=vec_col),
            codebooks,
            id_col=id_col,
            vec_col=vec_col,
            keep_cols=["cluster_id"],
        )
    return enc.withColumn("cell", F.col("cluster_id").cast("int"))


def pq_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    residual: bool = False,
    encoded: DataFrame | None = None,
    rerank: int | None = None,
    corpus_vectors: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ kNN-JOIN: `ivf_pq_search` for a DataFrame of queries —
    the billion-scale ANN backfill where the query set is itself
    corpus-sized, so nothing per-query may touch the driver (the
    single-query path inlines the probed-cell set and the ADC table
    as plan literals, which cannot scale past a handful of queries).

    Three stages, all distributed:
    1. encode: the corpus compresses to (id, cell, codes) via the
       same shuffle-free `assign` + `pq_encode` projections — at
       scale this is the PERSISTED index, partitioned by cell;
    2. probe: a mapInPandas stage computes each query's nprobe
       nearest cells with the SAME `_fold_sq_dist` left fold and
       (distance, index) tie-break as the single-query path — exact,
       not a vectorized approximation — and emits (query_id, cell,
       qvec), the query vector riding along;
    3. ADC: candidates = ONE equi-join on cell; a mapInPandas stage
       builds each query's m×k lookup table once per task (cached by
       query id, `_fold_sq_dist` per entry) and accumulates the m
       lookup adds PER ROW IN SUBSPACE ORDER — bit-identical to the
       single-query path's Spark-side literal fold, pinned by
       test_pq_knn_join_equals_single_query_path. Top-k per query is
       a query-partitioned window (WindowGroupLimit prunes before the
       exchange), never a global sort.

    ``residual=True`` switches to the production FAISS detail (the
    `ivf_pq_search_residual` twin): codes quantize x − cc[cell], so
    the ADC table becomes per (query, cell) — the scoring stage's
    cache key gains the cell, everything else (probe, join, fold
    order) is identical, and est_dist stays bit-equal to the
    single-query residual path.

    ``encoded``: a PRE-ENCODED corpus — (id, cell, codes) rows from a
    persisted index (`streaming/ingest.pq_index_stream` maintains one
    incrementally; `read_pq_index_merged` yields these rows). When
    given, stage 1 is skipped entirely: the billion-scale operating
    shape where the corpus is compressed ONCE and every query batch
    pays only probe + join + ADC. Must have been encoded with the
    SAME coarse_centroids/codebooks (and the same ``residual`` mode)
    passed here — the ADC tables are meaningless otherwise.

    ``rerank`` (VERDICT r11 #6, the FAISS IVFPQR shape): keep the
    top-``rerank`` ADC candidates per query (rerank >= k), fetch
    those candidates' RAW vectors, score them by EXACT squared L2
    (the same distance space est_dist approximates — a JVM-side
    zip_with/aggregate fold, deterministic array order), and cut to
    k on (exact_dist, id). ADC quantization error then only has to
    keep a true neighbor inside the top-``rerank`` — a far weaker
    ask than ranking it top-k — so recall climbs steeply with a
    small multiplier (measured curve: SCALING.md §Similarity;
    `scripts/pq_rerank_recall_sweep.py` reproduces). Cost at scale:
    two equi-joins over n_queries×rerank candidate rows (query and
    corpus vectors re-attached AFTER the cut — query vectors never
    ride through the ADC scan) + one more per-query window; output
    gains ``exact_dist``. The raw vectors come from ``corpus``, or
    from ``corpus_vectors`` when the corpus arrived pre-``encoded``
    (the persisted-index regime stores codes only).
    """
    import numpy as np

    sub = len(codebooks[0][0])
    m = len(codebooks)
    spark = queries.sparkSession

    if encoded is not None:
        enc = encoded.withColumn("cell", F.col("cell").cast("int"))
    else:
        enc = pq_encode_corpus(
            corpus, coarse_centroids, codebooks,
            residual=residual, id_col=id_col, vec_col=vec_col,
        )

    b_cc = spark.sparkContext.broadcast(
        [[float(x) for x in c] for c in coarse_centroids]
    )
    probe_schema = f"{query_id_col} long, cell int, _qvec array<double>"

    def probes(batches):
        import pandas as pd

        cc = b_cc.value
        for pdf in batches:
            qids: list[int] = []
            cells: list[int] = []
            vecs: list[list[float]] = []
            for qid, vec in zip(pdf[query_id_col], pdf[vec_col]):
                v = [float(x) for x in vec]
                cd = [_fold_sq_dist(v, c) for c in cc]
                order = sorted(range(len(cd)), key=lambda i: (cd[i], i))
                for cell in order[:nprobe]:
                    qids.append(int(qid))
                    cells.append(cell)
                    vecs.append(v)
            yield pd.DataFrame(
                {query_id_col: qids, "cell": cells, "_qvec": vecs}
            )

    probe = queries.select(query_id_col, vec_col).mapInPandas(
        probes, probe_schema
    )

    # Cluster each task's rows by LUT cache key (query, then cell for
    # residual) BEFORE the scoring stage: a local sort, no shuffle —
    # after the cell equi-join a task would otherwise interleave every
    # query probing its cells and each LUT would be rebuilt (or, with
    # an unbounded cache, pinned forever: at corpus-scale query sets
    # that dict grows O(distinct queries per task × m×k) and OOMs the
    # executor — ADVICE r10). Sorted input means a cache key never
    # recurs once a new key appears, so a small LRU gives one build
    # per key per task at bounded memory.
    cand = enc.select(id_col, "cell", "codes").join(
        probe, "cell"
    ).sortWithinPartitions(query_id_col, "cell")
    b_cb = spark.sparkContext.broadcast(
        [[[float(x) for x in cw] for cw in cb] for cb in codebooks]
    )
    score_schema = (
        f"{query_id_col} long, {id_col} long, cell int, est_dist double"
    )

    def score(batches):
        from collections import OrderedDict

        import pandas as pd

        cbs = b_cb.value
        cc = b_cc.value
        # LRU-bounded (sorted input ⇒ one miss per key per task; the
        # bound is pure defense so an unsorted caller can't OOM).
        luts: OrderedDict[object, list[list[float]]] = OrderedDict()
        lut_cap = 4096

        def lut_for(key, qv, cell):
            got = luts.get(key)
            if got is not None:
                luts.move_to_end(key)
            if got is None:
                while len(luts) >= lut_cap:
                    luts.popitem(last=False)
                v = list(qv)
                if residual:
                    # mirror ivf_pq_search_residual: center the query
                    # on the candidate's coarse centroid FIRST
                    v = [q - c for q, c in zip(v, cc[cell])]
                got = luts[key] = [
                    [
                        _fold_sq_dist(v[s * sub : (s + 1) * sub], cw)
                        for cw in cb
                    ]
                    for s, cb in enumerate(cbs)
                ]
            return got

        for pdf in batches:
            qid_arr = [int(q) for q in pdf[query_id_col]]
            cell_arr = [int(c) for c in pdf["cell"]]
            row_luts = [
                lut_for((qid, cell) if residual else qid, qv, cell)
                for qid, cell, qv in zip(qid_arr, cell_arr, pdf["_qvec"])
            ]
            codes_arr = [list(c) for c in pdf["codes"]]
            est = np.zeros(len(pdf), dtype=np.float64)
            # subspace-order accumulation: each row's adds happen
            # left-to-right exactly like the literal-LUT Spark fold
            for s in range(m):
                est += np.array(
                    [
                        lut[s][c[s]]
                        for lut, c in zip(row_luts, codes_arr)
                    ],
                    dtype=np.float64,
                )
            yield pd.DataFrame(
                {
                    query_id_col: qid_arr,
                    id_col: pdf[id_col],
                    "cell": pdf["cell"],
                    "est_dist": est,
                }
            )

    scored = cand.select(
        query_id_col, id_col, "cell", "codes", "_qvec"
    ).mapInPandas(score, score_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("est_dist"), F.asc(id_col)
    )
    if rerank is None:
        return (
            scored.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= k)
            .select(query_id_col, id_col, "cell", "est_dist")
        )
    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    vec_src = corpus_vectors if corpus_vectors is not None else corpus
    if vec_src is None:
        raise ValueError(
            "rerank needs the raw vectors: pass corpus or corpus_vectors"
        )
    topc = (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= rerank)
        .select(query_id_col, id_col, "cell", "est_dist")
    )
    sq_dist = F.aggregate(
        F.zip_with(
            F.col("_qv"),
            F.col("_cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = (
        topc.join(
            queries.select(query_id_col, F.col(vec_col).alias("_qv")),
            query_id_col,
        )
        .join(
            vec_src.select(id_col, F.col(vec_col).alias("_cv")), id_col
        )
        .withColumn("exact_dist", sq_dist)
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.asc("exact_dist"), F.asc(id_col)
    )
    return (
        exact.withColumn("_rank", F.row_number().over(w2))
        .where(F.col("_rank") <= k)
        .select(query_id_col, id_col, "cell", "est_dist", "exact_dist")
    )


def pq_encode_residual(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: list[int] | None = None,
) -> DataFrame:
    """Residual PQ encode — the production FAISS IVF-PQ detail the
    plain `pq_encode` documents as its simplification: quantize
    x − coarse_centroid[cell(x)] instead of x, so all cells share one
    codebook family over CENTERED residuals (smaller dynamic range →
    better codes for the same bits once codebooks are trained on
    residuals). Output: (id, cluster_id, codes, recon_err).

    Still one shuffle-free projection: the coarse argmin, the
    centroid lookup (element_at into the literal matrix), the
    subtraction, and the per-subspace argmins all fuse into a single
    stage over the scan. Search-side, the ADC table becomes per-cell
    (‖(q − cc) − codeword‖² for each probed cell) — same inlined-
    constant discipline, nprobe×m×k doubles.
    """
    from .kmeans import _centroid_literal, squared_distances

    coarse_lit = _centroid_literal(coarse_centroids)
    cd = squared_distances(F.col(vec_col), coarse_centroids)
    # Name the coarse-distance array once (r12, kmeans.assign's
    # `_dists` pattern) so argmin evaluates the interpreted fold once
    # per row, not twice.
    with_cell = df.select(
        F.col(id_col), F.col(vec_col), cd.alias("_cd")
    ).select(
        F.col(id_col),
        F.col(vec_col),
        (
            F.array_position(F.col("_cd"), F.array_min(F.col("_cd")))
            .cast("int") - F.lit(1)
        ).alias("cluster_id"),
    ).select(
        id_col,
        "cluster_id",
        F.zip_with(
            F.col(vec_col),
            F.element_at(coarse_lit, F.col("cluster_id") + F.lit(1)),
            lambda x, y: x.cast("double") - y,
        ).alias("_resid"),
    )
    if cells is not None:
        with_cell = with_cell.where(F.col("cluster_id").isin(list(cells)))
    enc = pq_encode(
        with_cell, codebooks, id_col=id_col, vec_col="_resid",
        keep_cols=["cluster_id"],
    )
    return enc.select(id_col, "cluster_id", "codes", "recon_err")


def ivf_pq_search_residual(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual-mode IVF-PQ search: codes quantize x − cc[cell], so
    the ADC table becomes PER-CELL — for each probed cell c,
    lut[c][s][j] = ‖(q − cc_c)_s − codebook_s[j]‖², nprobe×m×k
    doubles computed driver-side and inlined (zero rows for unprobed
    cells, which the probe filter removes before scoring). Per
    candidate: one literal-matrix lookup by cell + m indexed adds.
    Same one-scan → filter → project → TakeOrderedAndProject shape as
    the raw-vector variant; at scale the encode output is persisted
    partitioned by cell and only probed partitions are read."""
    sub = len(codebooks[0][0])
    cd = [_fold_sq_dist(query, c) for c in coarse_centroids]
    probed = sorted(range(len(cd)), key=lambda i: (cd[i], i))[:nprobe]
    probed_set = set(probed)

    lut3 = []
    for ci, cc in enumerate(coarse_centroids):
        if ci in probed_set:
            qr = [q - c for q, c in zip(query, cc)]
            lut3.append(
                [
                    [
                        _fold_sq_dist(qr[s * sub : (s + 1) * sub], cw)
                        for cw in cb
                    ]
                    for s, cb in enumerate(codebooks)
                ]
            )
        else:  # never indexed: the cell filter runs first
            lut3.append([[0.0] * len(cb) for cb in codebooks])
    lut3_lit = F.lit(
        [
            [[float(v) for v in row] for row in cell_lut]
            for cell_lut in lut3
        ]
    )
    enc = pq_encode_residual(
        corpus, coarse_centroids, codebooks, id_col=id_col,
        vec_col=vec_col, cells=probed,
    )
    est = F.aggregate(
        F.zip_with(
            F.element_at(lut3_lit, F.col("cluster_id") + F.lit(1)),
            F.col("codes"),
            lambda row, c: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        enc.select(
            F.col(id_col),
            F.col("cluster_id").cast("int").alias("cell"),
            est.alias("est_dist"),
        )
        .orderBy(F.asc("est_dist"), F.asc(id_col))
        .limit(k)
    )


_SHAP_FP = 1099511627776.0  # 2^40: the fixed-point grid for Shapley terms


def knn_shapley(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_label_col: str = "qlabel",
    k: int = 5,
) -> DataFrame:
    """Exact data-valuation Shapley values for the unweighted K-NN
    classifier (Jia et al., "Efficient Task-Specific Data Valuation
    for Nearest Neighbor Algorithms", PVLDB 2019, Theorem 1).

    For each test point, sort the corpus by distance ascending
    (cosine descending); with m_i = 1[label_i = test label] the
    closed-form recurrence is

        s_N = m_N / N
        s_i = s_{i+1} + (m_i - m_{i+1}) / K * min(K, i) / i

    i.e. every Shapley value is a SUFFIX SUM of per-rank terms — one
    ranking window plus one running sum per test point, no coalition
    enumeration. Terms are snapped to a 2^-40 fixed-point grid
    (floor(x * 2^40 + 0.5)) so the suffix sum is an INTEGER window
    sum — exact and order-free in any engine (a raw double running
    sum is not portable: DuckDB's segment-tree window accumulation
    adds in tree order, Spark adds sequentially). Grid error is
    <= N * 2^-40 (~5e-9 at N=1e4), far below any ranking use.

    Output: one row per (query_id, corpus id) with the fixed-point
    term suffix-sum ``s_fp`` (BIGINT; shapley = s_fp / 2^40).

    Scale shape: the query side is broadcast (bounded test set), the
    corpus streams through one scan; ranking + suffix sum are
    per-query windows (parallel across queries). At 100 TB corpora
    the per-query global sort dominates — real deployments feed an
    ANN-preselected or sampled corpus per test point; the valuation
    algebra is unchanged.
    """
    from .dedup import fan_out_narrow_input

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.col(query_label_col).alias("_qlabel"),
    )
    c = fan_out_narrow_input(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(label_col).alias("_clabel"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot(F.col("_qvec"), F.col(vec_col))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("_cos"),
        (F.col("_clabel") == F.col("_qlabel")).cast("int").alias("_m"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_cos"), F.asc(id_col)
    )
    wp = Window.partitionBy(query_id_col)
    r = scored.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("_m"),
        F.row_number().over(w).alias("_i"),
        F.count(F.lit(1)).over(wp).alias("_n"),
        F.lead("_m").over(w).alias("_mn"),
    )
    # Term op order mirrors the oracle SQL text exactly: every step is
    # a single IEEE-exact op (int diffs, double divides/multiplies,
    # floor), so the fixed-point ints agree bit-for-bit cross-engine.
    term = F.when(
        F.col("_i") == F.col("_n"),
        F.col("_m").cast("double") / F.col("_n"),
    ).otherwise(
        (F.col("_m") - F.col("_mn"))
        / F.lit(k)
        * F.least(F.lit(k), F.col("_i"))
        / F.col("_i")
    )
    t = r.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("_i"),
        F.floor(term * F.lit(_SHAP_FP) + F.lit(0.5))
        .cast("long")
        .alias("_term_fp"),
    )
    ws = (
        Window.partitionBy(query_id_col)
        .orderBy(F.desc("_i"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return t.select(
        F.col(query_id_col),
        F.col(id_col),
        F.sum("_term_fp").over(ws).alias("s_fp"),
    )
