"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline.  Query set ×
  corpus, dot products as grouped sums over unnested positions (the
  exact arithmetic an ANSI-SQL oracle reproduces), rank by rounded
  cosine with a deterministic neighbor-id tie-break.
- random-hyperplane LSH buckets: the scale path.  H sign bits from
  literal hyperplanes (seeded, inlined into the plan — no engine RNG),
  bucket = packed bit signature; candidate search touches only the
  query's bucket.  At 100 TB the bucket id is the partition/cluster
  key, so a top-k probe reads one bucket, not the corpus.

Every registered plan is ARRAY-NATIVE: dot products / norms / L2 are
``zip_with`` + ``aggregate`` over the embedding arrays — zero shuffle
for per-vector math, no ×dim posexplode amplification in the hot
path.  The two quantizer hot loops — two-level centroid assignment
(``_assign_two_level``) and PQ asymmetric-distance scoring
(``_pq_adc_scores``) — are numpy kernels inside ``mapInPandas``
instead, with the same arithmetic.  The DuckDB oracles keep the
unnested (flat) arithmetic; parity holds because every per-element
product is computed in double in Spark, numpy and DuckDB alike and
every compared value (cosine, dist2) is rounded (4/6 dp, HALF_UP)
before ranking — array-order vs unnest-order summation ulps cannot
survive the rounding.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window, functions as F

from ..pydeps import ensure_py_deps

N_PLANES = 8
EMB_DIM = 64

# centroid frames at or below this k are re-emitted as literal plan
# nodes (_literal_cents); above it they are persisted and consumed via
# broadcast joins — a 300k-row literal LocalRelation on the driver is
# the r6-flagged anti-pattern
LITERAL_CENTS_MAX = 10_000


def hyperplanes(n_planes: int = N_PLANES, dim: int = EMB_DIM, seed: int = 7):
    """Deterministic pseudo-hyperplanes, inlined as literals into both
    the Spark plan and the SQL oracle (no engine-side RNG)."""
    rng = random.Random(f"lsh:{seed}")
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def planes_for_corpus(
    n_vectors: int, target_bucket: int = 64, max_planes: int = 30
) -> int:
    """Scale-aware hyperplane count: with uniform buckets, *n_planes* =
    ⌈log2(n_vectors / target_bucket)⌉ keeps the EXPECTED bucket
    population ≈ target_bucket, so the same-bucket candidate join stays
    ~linear as the corpus grows (the bucket_cap then only truncates
    genuine skew, not the average case).  1e12 vectors / target 64 →
    34 → capped at *max_planes* (2³⁰ buckets is already past any
    realistic executor count)."""
    import math

    if n_vectors <= target_bucket:
        return 1
    return min(max_planes, math.ceil(math.log2(n_vectors / target_bucket)))


def capped_index(
    df: DataFrame, keys: list[str], id_col: str, cap: int | None
) -> DataFrame:
    """Index-side population cap shared by every bounded candidate
    join (dd3/dd5/dd7/sim3/sim4/sim5): keep the *cap* smallest *id_col*
    values per *keys* bucket (deterministic truncation; the bucket
    minimum always survives, so bucket members stay connected to their
    representative).  The row_number ≤ cap pattern compiles to
    WindowGroupLimit — a MAP-SIDE top-k before the bucket exchange,
    never a full per-bucket sort.  ``cap=None`` = passthrough."""
    if cap is None:
        return df
    w = Window.partitionBy(*keys).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def capped_bucket_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int,
    a_name: str = "doc_a",
    b_name: str = "doc_b",
) -> DataFrame:
    """One-pass capped candidate pairs per bucket — the window form of
    ``probe ⋈ capped_index(probe)`` (r8, guide §2.4 "remove shuffles
    outright").

    The self-join form has two consumers of the bucket subtree (probe
    + capped index), and AQE does not reuse the exchange between them
    at runtime — the whole upstream pipeline (for dd3: tokenize →
    shingle explode → 8-hash MinHash agg) executes TWICE, then pays a
    sort-merge join.  This form computes the same pair set in ONE pass:
    within each *keys* bucket ordered by *id_col* ascending,

        partners(y) = the ≤ *cap* smallest ids preceding y

    via ``row_number`` + a running ``collect_list(when(rn ≤ cap, id))``
    over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING (incremental frame:
    each row appends at most one element, and the CASE keeps the buffer
    ≤ *cap* elements, so a bucket of M rows does O(M·cap) work — the
    same bound as the capped join's output).  ``explode`` then emits
    (partner, y) = exactly the probe>index pairs: the capped index is
    downward-closed in *id_col*, so x<y is a capped candidate iff x is
    among the first min(cap, rank(y)−1) ids of a shared bucket.

    Returns (*a_name*, *b_name*) with a_name < b_name, one row per
    (bucket, pair) — callers ``.distinct()`` to collapse cross-bucket
    repeats (kept outside so callers can carry extra columns through).

    Measured on dd3 at sf1.0: 3.51 s → 2.25 s (band pipeline 2× → 1×,
    SortMergeJoin + one Exchange dropped).  Used where bucket
    cardinality is high (band signatures ≈ corpus size); for the
    low-cardinality LSH buckets of dd5 (2^n_planes buckets) the window
    partitioning cannot spread a mega-bucket across tasks the way AQE
    skew-split does for the join form, so dd5 keeps the join (measured
    2.3× slower as a window there).
    """
    w_rank = Window.partitionBy(*keys).orderBy(F.col(id_col).asc())
    w_prec = w_rank.rowsBetween(Window.unboundedPreceding, -1)
    return (
        df.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn(
            "_partners",
            F.collect_list(
                F.when(F.col("_rn") <= cap, F.col(id_col))
            ).over(w_prec),
        )
        .select(
            F.explode("_partners").alias(a_name),
            F.col(id_col).alias(b_name),
        )
    )


def dot_arrays(a: F.Column | str, b: F.Column | str) -> F.Column:
    """Array dot product: per-element products in DOUBLE (the same
    arithmetic the flat SQL oracles run), summed in array order via
    aggregate — zero shuffle, no posexplode.

    r8 note (measured, so nobody retries it): statically unrolling
    this into ``get(a,i)*get(b,i)`` term chains for fixed-dim arrays
    looked like a codegen win but benchmarked ERRATICALLY at dim 64 —
    0.7×–3× the HOF form depending on the surrounding join shape (a
    ~400-node expression tree trips whole-stage-codegen method-size
    fallbacks).  The robust win was staging norms once per VECTOR
    instead of once per pair — see ``_score_pairs``/``cosine_topk``.
    """
    av = F.col(a) if isinstance(a, str) else a
    bv = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            av, bv, lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_arrays(a: F.Column | str) -> F.Column:
    """L2 norm of an embedding array, per-row (no norms shuffle)."""
    return F.sqrt(dot_arrays(a, a))


def _rank_scored(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail over (query_id, neighbor_id, cosine) rows:
    rank by (cosine desc, neighbor_id asc), keep top-k.  The 4dp
    rounding already applied to *cosine* plus this tie-break IS the
    oracle contract — one copy only."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _score_pairs(
    cand: DataFrame,
    emb: DataFrame,
    a_col: str = "query_id",
    b_col: str = "neighbor_id",
) -> DataFrame:
    """Attach both embedding arrays to candidate (*a_col*, *b_col*)
    pairs and compute rounded cosine per-row in codegen.  The ONE copy
    of the oracle-parity scoring contract (per-element double
    products, array-order fold, round(…, 4)) behind the sim paths,
    dd5 and dd10 — a parity fix here reaches every consumer and its
    SQL twin stays in lock-step (review r6: this block had grown
    three near-verbatim copies).

    r8 (guide §1.2 "per-task work"): norms are STAGED once per vector
    on the attach sides instead of being recomputed inside every pair
    row — a candidate set of C pairs over N vectors evaluates 2N norm
    folds instead of 2C (dd5 at sf1.0: C ≈ 1.1M vs N = 20k; scoring
    stage 3.4 s → 1.8 s).  ``cosine = round(dot / (_qn·_nn), 4)`` is
    the same double multiply/divide on the same values, so results are
    bit-identical (verified pairwise and by the DuckDB contract)."""
    qa = emb.select(
        F.col("vec_id").alias(a_col),
        F.col("embedding").alias("_qv"),
        norm_arrays("embedding").alias("_qn"),
    )
    qb = emb.select(
        F.col("vec_id").alias(b_col),
        F.col("embedding").alias("_nv"),
        norm_arrays("embedding").alias("_nn"),
    )
    return (
        cand.join(qa, a_col)
        .join(qb, b_col)
        .withColumn(
            "cosine",
            F.round(
                dot_arrays("_qv", "_nv") / (F.col("_qn") * F.col("_nn")),
                4,
            ),
        )
        .drop("_qv", "_nv", "_qn", "_nn")
    )


def cosine_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 3
) -> DataFrame:
    """Brute-force top-k neighbors for vec_id < n_queries (self excluded).

    Returns (query_id, neighbor_id, rank, cosine[rounded 4dp]); rank
    breaks cosine ties by neighbor id — fully deterministic.  The tiny
    query set is broadcast; dot/norms are array-native per-row math, so
    the only shuffle is the per-query top-k window.  Norms are staged
    per vector / per query BEFORE the cross join (r8): n_queries × N
    scored rows then evaluate one dot each instead of one dot + two
    norm folds — same doubles, same rounding (measured 0.81 s → 0.64 s
    at sf1.0).
    """
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        norm_arrays("embedding").alias("_qn"),
    )
    scored = (
        emb.select(
            "vec_id", "embedding", norm_arrays("embedding").alias("_nn")
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot_arrays("_qv", "embedding")
                / (F.col("_qn") * F.col("_nn")),
                4,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    return _rank_scored(scored, k)


def cosine_topk_arrays(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Spark-native top-k (no unnest): broadcast the query set, dot via
    zip_with/aggregate inside codegen'd array expressions."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    e = emb.select("vec_id", "embedding")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            dot_arrays("embedding", "qv")
            / (norm_arrays("embedding") * norm_arrays("qv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cosine")
    )


def lsh_tables(
    emb: DataFrame,
    n_planes: int = 4,
    n_tables: int = 1,
    base_seed: int = 7,
) -> DataFrame:
    """(vec_id, tbl, bucket) over *n_tables* independent hyperplane
    sets (seeds base_seed, base_seed+1, …).  Multi-table OR-probing:
    two vectors are candidates if they collide in ANY table — the
    standard LSH recall amplifier."""
    parts = [
        lsh_buckets(emb, hyperplanes(n_planes, seed=base_seed + t))
        .withColumn("tbl", F.lit(t))
        for t in range(n_tables)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("vec_id", "tbl", "bucket")


def lsh_probe_candidates(
    emb: DataFrame,
    n_planes: int = 4,
    n_tables: int = 1,
    bucket_cap: int | None = None,
    base_seed: int = 7,
) -> DataFrame:
    """(query_id, neighbor_id) LSH candidates with bounded fan-out.

    *bucket_cap* bounds the worst-case bucket population on the INDEX
    side: within each (tbl, bucket) only the *bucket_cap* smallest
    vec_ids serve as neighbors (deterministic truncation).  Every
    vector still probes as a query, so per-query work is at most
    n_tables × bucket_cap candidates — a skewed bucket can no longer go
    quadratic.  Recall trade: neighbors truncated out of an
    over-full bucket are only reachable through another table — that is
    the documented cost of boundedness (raise n_tables to buy it back).
    """
    b = lsh_tables(emb, n_planes, n_tables, base_seed)
    idx = capped_index(b, ["tbl", "bucket"], "vec_id", bucket_cap)
    cand = (
        b.alias("qa")
        .join(
            idx.alias("qb"),
            (F.col("qa.tbl") == F.col("qb.tbl"))
            & (F.col("qa.bucket") == F.col("qb.bucket"))
            & (F.col("qa.vec_id") != F.col("qb.vec_id")),
        )
        .select(
            F.col("qa.vec_id").alias("query_id"),
            F.col("qb.vec_id").alias("neighbor_id"),
        )
    )
    # collisions can repeat across tables; pairs must be unique
    return cand.distinct() if n_tables > 1 else cand


def lsh_topk(
    emb: DataFrame,
    planes: list[list[float]] | None = None,
    k: int = 1,
    n_tables: int | None = None,
    n_planes: int = 4,
    bucket_cap: int | None = None,
    base_seed: int = 7,
) -> DataFrame:
    """Bucketed ANN: top-k neighbors searched ONLY within the query's
    LSH bucket(s) — the scale path (at 100 TB the bucket is the
    partition key; a probe reads one bucket, not the corpus).  Fewer
    planes → bigger buckets → better recall, more compute; callers
    pick.  With *n_tables*/*bucket_cap* set, candidates come from
    multi-table OR-probing with a per-bucket population cap (see
    ``lsh_probe_candidates``) — bounded worst-case fan-out.
    Returns (query_id, neighbor_id, rank, cosine)."""
    if n_tables is not None:
        cand = lsh_probe_candidates(
            emb, n_planes, n_tables, bucket_cap, base_seed
        )
    else:
        b = lsh_buckets(emb, planes)
        cand = (
            b.alias("qa")
            .join(
                b.alias("qb"),
                (F.col("qa.bucket") == F.col("qb.bucket"))
                & (F.col("qa.vec_id") != F.col("qb.vec_id")),
            )
            .select(
                F.col("qa.vec_id").alias("query_id"),
                F.col("qb.vec_id").alias("neighbor_id"),
            )
        )
    return _rank_scored(_score_pairs(cand, emb), k)


def _first_k_centroid_arrays(emb: DataFrame, n_cells: int) -> DataFrame:
    """(cell, carr): deterministic first-k init centroids as double
    arrays — tiny, always broadcast."""
    return emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("carr"),
    )


def _l2_dist2(a: F.Column | str, c: F.Column | str) -> F.Column:
    av = F.col(a) if isinstance(a, str) else a
    cv = F.col(c) if isinstance(c, str) else c
    return F.aggregate(
        F.zip_with(
            av, cv, lambda x, cx: (x.cast("double") - cx) * (x.cast("double") - cx)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(emb: DataFrame, n_cells: int = 8) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest
    centroid cell.  Deterministic centroids = the first *n_cells*
    vectors (a seeded k-means would drop in on a cluster; the
    assignment/probe plan is identical).  Centroids broadcast as
    arrays; dist2 = rounded 6dp array-native L2, min per vector over
    an n_cells-row window.  Returns (vec_id, cell, dist2)."""
    cents = _first_k_centroid_arrays(emb, n_cells)
    d2 = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        F.round(_l2_dist2("embedding", "carr"), 6).alias("dist2"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cell").asc()
    )
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "dist2")
    )


CELL_CAP = 64


def _cell_probe_topk(
    cells: DataFrame,
    emb: DataFrame,
    k: int,
    cell_cap: int | None = CELL_CAP,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF probe tail: candidate pairs from the query's probed
    cell(s) → exact cosine → rank-filtered top-k.

    *cells* is the primary assignment (each vector in exactly one
    cell) and forms the INDEX side; *probes* (default: the primary
    assignment, probe=1) is the QUERY side — multi-probe passes the
    rn ≤ P nearest-cell assignment here, so a query also reads its
    runner-up cells and boundary neighbors become reachable.  Because
    every neighbor has exactly ONE primary cell, a (query, neighbor)
    pair arises from at most one probed cell — no distinct needed.

    *cell_cap* bounds the worst-case cell population on the INDEX side
    (the lsh_probe_candidates pattern): with n_cells fixed a cell holds
    ~N/n_cells vectors and an uncapped same-cell join is O(N²/n_cells).
    Every vector still probes as a query; only the *cell_cap* smallest
    vec_ids per cell serve as neighbors, so per-query work is ≤
    n_probe × cell_cap candidates.  Recall trade: neighbors truncated
    out of an over-full cell are unreachable — at scale also grow
    n_cells so cells stay small (the real IVF knob).  Size it with
    HEADROOM below the cap: n_cells ≈ N/(cell_cap/2), i.e. mean cell ≈
    half the cap — at n_cells = N/cell_cap the MEAN cell equals the
    cap and any quantizer skew truncates (MEASURED: first-k quantizer
    at 20k vectors, cells=N/64, cap 64 → cluster-sibling recall@1
    0.60; cells=N/32 restores it — BENCH/BASELINE.md "Measured recall
    at scale").  r7 refinement: 2× headroom is NOT enough for real
    quantizer skew — Lloyd cells at 100k vectors reached ~80 members
    (2.5× the mean of 32), and every residual dd10 recall miss at
    cap=64 was a large-id mate capped out of such a cell; cap = 4×
    mean (128 at mean 32) recovered recall 0.96 → 1.000 for ~20%
    wall, and the join stays bounded at cap rows per cell either
    way."""
    idx = capped_index(cells, ["cell"], "vec_id", cell_cap)
    q = probes if probes is not None else cells
    cand = (
        q.alias("qa")
        .join(
            idx.alias("qb"),
            (F.col("qa.cell") == F.col("qb.cell"))
            & (F.col("qa.vec_id") != F.col("qb.vec_id")),
        )
        .select(
            F.col("qa.vec_id").alias("query_id"),
            F.col("qb.vec_id").alias("neighbor_id"),
        )
    )
    return _rank_scored(_score_pairs(cand, emb), k)


def ivf_topk(
    emb: DataFrame,
    n_cells: int = 8,
    k: int = 1,
    cell_cap: int | None = CELL_CAP,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-probed ANN: top-k by cosine among vectors in the query's
    *n_probe* nearest cells.  The inverted-file twin of lsh_topk — at
    scale the cell id is the partition key, a probe reads n_probe
    cells, and the index side stays the single primary assignment.
    probe=1 is the cheapest/lowest-recall point; P=2-4 recovers the
    boundary misses (a neighbor just across the bisector) for P× probe
    cost — the standard IVF recall knob."""
    cents = _first_k_centroid_arrays(emb, n_cells)
    cells = _assign_to(emb, cents)
    probes = (
        _assign_to(emb, cents, n_probe) if n_probe > 1 else None
    )
    return _cell_probe_topk(cells, emb, k, cell_cap, probes)


def _nearest_tail(d2: DataFrame, n_probe: int = 1) -> DataFrame:
    """Shared tail over (vec_id, cell, dist2) candidate rows: the
    *n_probe* nearest cells per vector, ties by cell asc.

    n_probe == 1 is an argmin: ONE hash aggregation whose
    lexicographic min(struct(dist2, cell)) matches the window's
    (dist2 asc, cell asc) ordering exactly.  Partial aggregation
    folds the candidate rows MAP-SIDE, so only N rows reach the
    exchange — the row_number form shuffled and sorted every
    candidate row (measured: dominated dd10's wall at 100k vectors ×
    3125 cells, where N×k is 312M rows).  n_probe > 1 keeps the
    row_number form, which compiles to WindowGroupLimit — a map-side
    per-vector top-P before the exchange."""
    if n_probe == 1:
        return (
            d2.groupBy("vec_id")
            .agg(F.min(F.struct("dist2", "cell")).alias("_m"))
            .select("vec_id", F.col("_m.cell").alias("cell"))
        )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cell").asc()
    )
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "cell")
    )


def _assign_to(
    emb: DataFrame, cents: DataFrame, n_probe: int = 1
) -> DataFrame:
    """(vec_id, cell): the *n_probe* nearest broadcast centroid arrays
    by L2 (default 1 = primary assignment), dist2 rounded 6dp, ties by
    cell asc — deterministic, engine-agnostic.  FLAT scan: O(k) per
    row — right for small k; at the at-scale sizing rule k ≈ N/32 use
    ``_assign_two_level`` (O(√k) per row, r6 verdict)."""
    d2 = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        F.round(_l2_dist2("embedding", "carr"), 6).alias("dist2"),
    )
    return _nearest_tail(d2, n_probe)


def hash_order_sample(emb: DataFrame, cap: int) -> DataFrame:
    """Deterministic unbiased training sample: the *cap* smallest rows
    by (md5(vec_id), vec_id) — hash order, so the sample is spread
    uniformly over the corpus regardless of id layout, identical in
    any engine (ANSI md5 of the decimal id string), and free of RNG.
    Compiles to TakeOrderedAndProject: a per-partition top-*cap* heap
    + one driver merge — one linear scan, no shuffle.  Intended for
    cap ≪ N: at cap ≳ N the driver merge receives ~the whole corpus
    (MEASURED: minutes single-core at 1M rows) — when the sample
    would be the corpus anyway, train on the corpus directly
    (``sample_cap=None``)."""
    return emb.orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    ).limit(cap)


def _init_centroids_by_rank(train: DataFrame, n_cells: int) -> DataFrame:
    """(cell, carr) init centroids for a SAMPLED/derived training set:
    the *n_cells* smallest vec_ids present, renumbered densely 0..k-1
    (the legacy ``vec_id < k`` init assumes ids 0..k-1 exist — a
    hash-order sample has arbitrary ids).  The window runs over an
    already-LIMITed k-row frame, never the corpus."""
    first = train.orderBy(F.col("vec_id").asc()).limit(n_cells)
    w = Window.orderBy(F.col("vec_id").asc())
    return (
        first.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "carr"
            ),
        )
        .withColumn("cell", (F.row_number().over(w) - 1).cast("long"))
        .select("cell", "carr")
    )


def _coarse_model(
    cents: DataFrame,
    n_cells: int,
    dim: int = EMB_DIM,
    coarse_iters: int = 1,
) -> dict:
    """Two-level quantizer model over a trained fine-centroid set
    (r6 verdict: flat assignment is O(k) per row — quadratic overall
    at the k ≈ N/32 sizing rule).  Groups the k fine centroids into
    kc = ⌈√k⌉ COARSE cells via a small flat Lloyd run over the
    centroids themselves (k·kc work — negligible), so assignment
    becomes coarse-scan + fine-scan-within-probed-coarse-cells: O(√k)
    per row instead of O(k).

    Returns ``{"ccells": (kc',) int64, "coarse": (kc', dim) float64,
    "groups": {coarse cell: (fine cells (n,), fine centroids (n,
    dim))}}`` — numpy arrays, the coarse axis sorted by cell id,
    grouped ONCE on the driver from one collect of the k-row
    fine→coarse map.  They ship to executors in the assignment's task
    closure; at k beyond ~1M the fine groups outgrow a closure."""
    import numpy as np

    n_coarse = max(1, math.ceil(math.sqrt(n_cells)))
    # the k-row centroid frame arrives AQE-coalesced to 1-2 partitions
    # (17 MB at k=31k); the k×kc interpreted-HOF crossJoins below then
    # run near-single-core (MEASURED: minutes at 1M×31k cells) — fan
    # it back out first
    par = cents.sparkSession.sparkContext.defaultParallelism
    cents_emb = cents.select(
        F.col("cell").alias("vec_id"), F.col("carr").alias("embedding")
    ).repartition(par, "vec_id")
    coarse = _kmeans_centroids(
        cents_emb, n_coarse, coarse_iters, dim, init_by_rank=True
    )
    f2c = _assign_to(cents_emb, coarse).select(
        F.col("vec_id").alias("cell"), F.col("cell").alias("coarse")
    )
    rows: dict[int, list] = {}
    for r in cents.join(f2c, "cell").select("coarse", "cell", "carr").collect():
        rows.setdefault(int(r["coarse"]), []).append((int(r["cell"]), r["carr"]))
    groups = {
        g: (
            np.array([c for c, _ in members], dtype=np.int64),
            np.array([v for _, v in members], dtype=np.float64),
        )
        for g, members in rows.items()
    }
    # probe only coarse cells that HAVE fine members: the final
    # fine→coarse re-assignment can leave a (recentered) coarse
    # centroid empty, and a vector whose every probed coarse cell is
    # empty would get NO candidates — silently vanishing from the
    # assignment (review r7).  With empty cells excluded, every probe
    # yields ≥1 candidate and the output keeps one row per vector.
    # The SQL twin applies the same restriction ({p}rd joins the
    # DISTINCT f2c coarse set).
    used = sorted(
        (int(r["cell"]), [float(x) for x in r["carr"]])
        for r in coarse.collect()
        if int(r["cell"]) in groups
    )
    return {
        "ccells": np.array([c for c, _ in used], dtype=np.int64),
        "coarse": np.array([v for _, v in used], dtype=np.float64),
        "groups": groups,
    }


def _np_round6(a):
    """round(x, 6) with Spark/DuckDB semantics for the non-negative
    dist2 domain: HALF_UP on the SHORTEST-DECIMAL representation of
    the double (Java BigDecimal.valueOf → setScale(6, HALF_UP)).  The
    fast path floor(x·1e6 + 0.5) agrees everywhere except when x·1e6
    lands within ~1e-8 of a .5 tie — there the binary value and the
    shortest decimal repr can sit on opposite sides (review r7
    CONFIRMED: 0.0005045 → Spark 0.000505, naive floor 0.000504) —
    so near-ties take an exact Decimal fallback.  Ties are measure-
    zero for real-valued distances: the fallback costs nothing in
    practice and keeps the numpy kernels (two-level assignment, ADC
    scoring) on the same rounding as the SQL oracles' round(…, 6)."""
    import numpy as np

    f = a * 1e6
    fl = np.floor(f)
    frac = f - fl
    out = fl + (frac >= 0.5)
    near = np.abs(frac - 0.5) < 1e-8
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        flat_in = np.asarray(a).ravel()
        flat_out = out.ravel()
        for i in np.flatnonzero(near.ravel()):
            flat_out[i] = float(
                Decimal(repr(float(flat_in[i]))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
            ) * 1e6
        out = flat_out.reshape(np.shape(a))
    return out / 1e6


def _assign_two_level(
    emb: DataFrame,
    model: dict,
    n_probe: int = 1,
    coarse_probe: int = 2,
) -> DataFrame:
    """(vec_id, cell): two-level centroid assignment — O(kc +
    coarse_probe·k/kc) ≈ O(√k) distance evaluations per row instead
    of the flat O(k) scan.

    Per row: the *coarse_probe* nearest coarse centroids, then the
    *n_probe* nearest fine centroids among the probed coarse cells'
    members.  Contract: dist2 = Σ(x−c)² in double, rounded 6dp
    HALF_UP (``_np_round6``), ties by cell asc — the arithmetic the
    generated SQL twin (``queries._sql_assign_two_level``)
    reproduces.  Probing >1 coarse cells recovers rows whose true fine
    centroid lives just across a coarse bisector — the same
    boundary-miss knob as IVF multi-probe; APPROXIMATION: a fine
    centroid outside every probed coarse cell is unreachable
    (measured recall at the shipped defaults in BENCH/BASELINE.md
    "Measured recall at scale").

    Evaluated as numpy batch operations inside ``mapInPandas``
    (MEASURED: the equivalent higher-order-function folds run
    interpreted in Spark — CodegenFallback, ~10-30 µs per candidate
    row — ~100× slower).  Zero shuffle: the model ships in the task
    closure (see ``_coarse_model``)."""
    import numpy as np

    C = model["coarse"]
    ccells = model["ccells"]
    groups = model["groups"]
    cp = min(coarse_probe, len(ccells))

    def run(batches):
        import pandas as pd

        # r8: chunk the coarse-distance broadcast — (rows × kc × dim)
        # float64 temporaries scale with the Arrow batch size (371 MB
        # at 4096 rows × kc≈180), which measurably slowed the kernel
        # when the session default batch grew; 512-row chunks bound the
        # temporary at ~46 MB with bit-identical per-row arithmetic.
        CH = 512
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            ids = pdf["vec_id"].to_numpy()
            out_ids, out_cells = [], []
            for s in range(0, len(ids), CH):
                Xc = X[s : s + CH]
                Dc = _np_round6(((Xc[:, None, :] - C[None, :, :]) ** 2).sum(-1))
                # the coarse axis is sorted by cell id, so a STABLE
                # argsort of a distance row is exactly the per-row
                # lexsort((ccells, dist)) — ties by cell ascending
                probe = np.argsort(Dc, axis=1, kind="stable")[:, :cp]
                for j in range(len(Xc)):
                    i = s + j
                    gs = [groups[int(g)] for g in ccells[probe[j]]]
                    cand_cells = np.concatenate([gc for gc, _gv in gs])
                    cand_d = np.concatenate(
                        [_np_round6(((X[i] - gv) ** 2).sum(-1)) for _gc, gv in gs]
                    )
                    best = np.lexsort((cand_cells, cand_d))[:n_probe]
                    out_ids.extend([ids[i]] * len(best))
                    out_cells.extend(cand_cells[best])
            yield pd.DataFrame({"vec_id": out_ids, "cell": out_cells})

    ensure_py_deps(emb.sparkSession)  # run() calls _np_round6 by reference
    return emb.select("vec_id", "embedding").mapInPandas(
        run, "vec_id long, cell long"
    )


def kmeans_cells(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    dim: int = EMB_DIM,
    *,
    sample_cap: int | None = None,
    two_level: bool = False,
    coarse_probe: int = 2,
    coarse_iters: int = 1,
) -> DataFrame:
    """Lloyd-trained IVF assignment: final (vec_id, cell) under the
    trained centroids (see ``_kmeans_centroids``).  *sample_cap* /
    *two_level* are the at-scale knobs (r6 verdict): hash-order
    sampled training input and O(√k)-per-row two-level assignment —
    defaults keep the exact legacy full-corpus flat contract."""
    return _kmeans_assigner(
        emb,
        n_cells,
        iters,
        dim,
        sample_cap=sample_cap,
        two_level=two_level,
        coarse_probe=coarse_probe,
        coarse_iters=coarse_iters,
    )(1)


def _kmeans_assigner(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    dim: int = EMB_DIM,
    *,
    sample_cap: int | None = None,
    two_level: bool = False,
    coarse_probe: int = 2,
    coarse_iters: int = 1,
):
    """Train the quantizer ONCE and return ``assign(n_probe)`` — so a
    consumer needing both the primary assignment and a multi-probe
    side (semantic_dedup, multi-probe IVF) shares one training run
    and, in two-level mode, one coarse model."""
    cents = _kmeans_centroids(
        emb,
        n_cells,
        iters,
        dim,
        sample_cap=sample_cap,
        two_level=two_level,
        coarse_probe=coarse_probe,
        coarse_iters=coarse_iters,
    )
    if not two_level:
        return lambda n_probe=1: _assign_to(emb, cents, n_probe)
    model = _coarse_model(cents, n_cells, dim, coarse_iters)

    def assign(n_probe: int = 1) -> DataFrame:
        out = _assign_two_level(emb, model, n_probe, coarse_probe)
        # a two-level assignment is 10-20 s of real work at 100k rows
        # (MEASURED); semantic_dedup consumes the primary assignment
        # from three places (capped index, probe side, final join) and
        # re-evaluating the chain per consumer multiplied the wall
        # ~4x.  The (vec_id, cell) result is tiny — materialize it
        # lazily and truncate lineage.  localCheckpoint stores on
        # executor-local storage (fine single-box; on a lossy cluster
        # swap for persist(DISK) or a reliable checkpoint).
        return out.localCheckpoint(eager=False)

    return assign


def _literal_cents(cents: DataFrame) -> DataFrame:
    """Collect a (cell, carr) centroid frame — k tiny rows — and
    re-emit it as a LITERAL local relation.  Exact: doubles round-trip
    bit-identically through collect, so every assignment/oracle value
    is unchanged.  Why: centroids feed broadcast crossJoins that get
    re-evaluated once per consumer AND once per Lloyd round's lineage
    — as a computed subquery the whole training chain re-runs each
    time, as a literal it is free.  Measured at 100k vectors × 3125
    cells: a literal-centroid assignment runs in ~3 s where the
    chained form spent minutes re-deriving its inputs.  One small
    eager driver action per round — the documented dd5-eager-count
    trade."""
    spark = cents.sparkSession
    return spark.createDataFrame(
        [
            (int(r["cell"]), [float(x) for x in r["carr"]])
            for r in cents.collect()
        ],
        "cell: long, carr: array<double>",
    )


def _materialize_cents(cents: DataFrame, n_cells: int) -> DataFrame:
    """Materialize one round's centroid frame so no downstream
    consumer re-evaluates its lineage: literal rows for k ≤
    LITERAL_CENTS_MAX (free to re-read, exact double round-trip),
    else persist + count (r6 verdict: a ~300k-row literal
    LocalRelation re-embedded on the driver is the wrong shape — the
    broadcast in the consuming join then ships the persisted
    partitions instead).  Eviction of a persisted round only costs a
    recompute, never correctness."""
    if n_cells <= LITERAL_CENTS_MAX:
        return _literal_cents(cents)
    out = cents.persist()
    out.count()
    return out


def _recenter(train: DataFrame, assign: DataFrame, dim: int) -> DataFrame:
    """One Lloyd recentering: per-cell mean of the assigned training
    rows, each coordinate rounded 6dp — ONE wide aggregation (dim
    per-position avg columns, map-side combine — the MinHash wide-agg
    trick; no ×dim posexplode of the corpus)."""
    return (
        train.join(assign, "vec_id")
        .groupBy("cell")
        .agg(
            *[
                F.round(
                    F.avg(F.element_at("embedding", i + 1).cast("double")),
                    6,
                ).alias(f"_c{i}")
                for i in range(dim)
            ]
        )
        .select(
            "cell",
            F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("carr"),
        )
    )


def _kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    dim: int = EMB_DIM,
    *,
    sample_cap: int | None = None,
    two_level: bool = False,
    coarse_probe: int = 2,
    coarse_iters: int = 1,
    init_by_rank: bool | None = None,
) -> DataFrame:
    """Lloyd-trained centroids: *iters* rounds of assign → mean
    recentering (centroid coordinates rounded 6dp each round so any
    engine reproduces the trajectory), deterministic init.  Each
    round's result is MATERIALIZED (``_materialize_cents``) so round
    r+1 — and every downstream consumer — never re-evaluates round
    r's lineage.  Returns (cell, carr).

    At-scale knobs (r6 verdict — flat full-corpus training is
    O(N·k·iters), quadratic under the k ≈ N/32 sizing rule):

    - *sample_cap*: train on the ``hash_order_sample`` of that size
      instead of the corpus — Lloyd quality needs O(k·constant)
      points, not N; the sample is persisted for the training rounds
      and unpersisted before return.  Init switches to dense-rank
      (``_init_centroids_by_rank``) since the sample's ids are
      arbitrary; pass *init_by_rank* explicitly to override.
    - *two_level*: each training round assigns via
      ``_assign_two_level`` over a coarse model re-derived from that
      round's centroids — O(√k) per training row.

    Defaults (None/False) keep the exact legacy contract: full-corpus
    flat rounds, first-k ``vec_id < k`` init — the dd10/sim5/sim6
    oracle trajectories are byte-identical."""
    if init_by_rank is None:
        init_by_rank = sample_cap is not None
    train = emb
    handle = None
    if sample_cap is not None:
        # GlobalLimit leaves ONE partition — everything downstream of
        # a bare .limit() would train single-threaded (MEASURED: the
        # 100k-sample two-level assign ran 71.6 s on one core).  Fan
        # the persisted sample back out before the Lloyd rounds.
        train = (
            hash_order_sample(emb, sample_cap)
            .repartition(
                emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
            )
            .persist()
        )
        train.count()
        handle = train
    init = (
        _init_centroids_by_rank(train, n_cells)
        if init_by_rank
        else _first_k_centroid_arrays(train, n_cells)
    )
    cents_persisted = n_cells > LITERAL_CENTS_MAX
    cents = _materialize_cents(init, n_cells)
    for _ in range(iters):
        if two_level:
            assign = _assign_two_level(
                train,
                _coarse_model(cents, n_cells, dim, coarse_iters),
                coarse_probe=coarse_probe,
            )
        else:
            assign = _assign_to(train, cents)
        new_cents = _materialize_cents(_recenter(train, assign, dim), n_cells)
        # release the superseded round's cached frame (review r7: a
        # 100k→1M sweep accumulated dead k-row frames in executor
        # storage); new_cents is already materialized, so the only
        # cost of eviction-after-unpersist is a recompute
        if cents_persisted:
            cents.unpersist()
        cents = new_cents
    if handle is not None:
        handle.unpersist()
    return cents


def ivf_kmeans_topk(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    k: int = 1,
    cell_cap: int | None = CELL_CAP,
    n_probe: int = 1,
    *,
    sample_cap: int | None = None,
    two_level: bool = False,
    coarse_probe: int = 2,
    coarse_iters: int = 1,
) -> DataFrame:
    """IVF probe over Lloyd-trained cells — sim4's probe with trained
    centroids instead of the first-k quantizer; *n_probe* > 1 probes
    the P nearest trained cells (multi-probe recall knob).
    *sample_cap*/*two_level* are the r6-verdict at-scale quantizer
    knobs (see ``_kmeans_centroids``)."""
    assign = _kmeans_assigner(
        emb,
        n_cells,
        iters,
        sample_cap=sample_cap,
        two_level=two_level,
        coarse_probe=coarse_probe,
        coarse_iters=coarse_iters,
    )
    cells = assign(1)
    probes = assign(n_probe) if n_probe > 1 else None
    return _cell_probe_topk(cells, emb, k, cell_cap, probes)


# ---------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the standard embedding-compression and
# approximate-search operator family (FAISS IVFPQ): split the vector
# into m subspaces, k-means each subspace independently (codebooks),
# store each vector as m small codes; search scores queries against
# codes via asymmetric distance (ADC) — query-to-centroid distances
# instead of query-to-vector.  At 100 TB this is the memory story: a
# 64-dim float32 embedding (256 B) becomes m=8 one-byte codes (8 B,
# 32×), and the ADC scan touches only codes + broadcast codebooks.
# ---------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 1,
    dim: int = EMB_DIM,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks: subspace s covers dims
    [s·dim/m, (s+1)·dim/m); each is Lloyd-trained independently with
    the module's exact trajectory contract (first-k init, 6dp-rounded
    distances and recenters — so the SQL twin reproduces every code).
    Returns driver-side [(code, centroid)…] per subspace — m·k tiny
    rows, literal-sized by construction."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    # the n_sub independent Lloyd trainings each fire several jobs
    # (init + assign/recenter per round + collect) — persist ONE local
    # projection so they read cached partitions instead of re-scanning
    # (and re-computing) the source ~2-3×n_sub times (review r7:
    # scan-amplification pitfall); a fresh projection is persisted so
    # an already-cached caller frame is never unpersisted from under
    # the caller
    src = emb.select("vec_id", "embedding").persist()
    try:
        books = []
        for s in range(n_sub):
            sub = src.select(
                "vec_id",
                F.slice("embedding", s * d_sub + 1, d_sub).alias(
                    "embedding"
                ),
            )
            cents = _kmeans_centroids(sub, k, iters, d_sub)
            books.append(
                sorted(
                    (int(r["cell"]), [float(x) for x in r["carr"]])
                    for r in cents.collect()
                )
            )
    finally:
        src.unpersist()
    return books


def _pq_best_struct(
    sub_col: F.Column, book: list[tuple[int, list[float]]]
) -> F.Column:
    """struct(d, c) of the nearest codebook centroid for one subspace
    — ONE transform lambda over a literal array-of-arrays (MEASURED:
    one fold copy per centroid in a single projection drove Catalyst
    planning super-linear — a 56-centroid probe sat >8 min in the
    driver), argmin via array_sort's lexicographic struct order
    (dist2 asc, code asc)."""
    cb_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in carr]) for _c, carr in book]
    )
    codes_lit = F.array(*[F.lit(int(c)).cast("long") for c, _carr in book])
    d_arr = F.transform(
        cb_lit, lambda carr: F.round(_l2_dist2(sub_col, carr), 6)
    )
    entries = F.zip_with(
        d_arr, codes_lit, lambda d, c: F.struct(d.alias("d"), c.alias("c"))
    )
    return F.element_at(F.array_sort(entries), 1)


def pq_encode(
    emb: DataFrame,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 1,
    dim: int = EMB_DIM,
    codebooks: list | None = None,
) -> DataFrame:
    """(vec_id, codes, qerr): PQ-encode every vector — per subspace
    the nearest codebook centroid (ties by code asc), *qerr* the
    rounded total quantization error Σ_s dist2_s (the reconstruction-
    quality signal; it is what PQ training minimizes).

    Plan: ZERO-shuffle — every subspace's argmin is a per-row literal
    codebook expression in one projection (no per-subspace assignment
    joins: the m-way join form pays m shuffles of N rows).  Codebooks
    train once (driver-side tiny) and inline as literals."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(emb, n_sub, k, iters, dim)
    )
    bests = [
        _pq_best_struct(
            F.slice("embedding", s * d_sub + 1, d_sub), books[s]
        ).alias(f"_b{s}")
        for s in range(n_sub)
    ]
    staged = emb.select("vec_id", *bests)
    return staged.select(
        "vec_id",
        F.array(*[F.col(f"_b{s}.c") for s in range(n_sub)]).alias("codes"),
        F.round(
            sum(
                [F.col(f"_b{s}.d") for s in range(n_sub)],
                F.lit(0.0),
            ),
            6,
        ).alias("qerr"),
    )


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k_neighbors: int = 3,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 1,
    dim: int = EMB_DIM,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search: top-k neighbors for vec_id <
    *n_queries* scored against CODES, not vectors — adc(q, v) =
    round(Σ_s ‖q_s − codebook_s[code_v,s]‖², 6), each subspace term
    6dp-rounded (the module's engine-agnostic distance contract).
    Rank by (adc asc, neighbor asc), self excluded.

    Plan: encode is the zero-shuffle literal-codebook projection; the
    query vectors (tiny) are collected once and every code row is
    scored against all of them by ``_pq_adc_scores`` — the FAISS
    table-based scan: m table gathers per pair, no per-pair distance
    arithmetic; the only exchange is the top-k window.  At scale,
    compose with the IVF cell as partition key (IVFPQ) so a probe
    scans one cell's codes; the ADC scan reads 8-byte codes instead of
    256-byte vectors — the 32× memory win is the point.  Returns
    (query_id, neighbor_id, rank, adc).

    *queries* overrides the default vec_id < n_queries query set (any
    (vec_id, embedding) frame — the recall bench probes a sampled id
    set)."""
    d_sub = dim // n_sub
    books = pq_codebooks(emb, n_sub, k, iters, dim)
    codes = pq_encode(emb, n_sub, k, iters, dim, codebooks=books)
    src_q = queries if queries is not None else emb.filter(
        F.col("vec_id") < n_queries
    )
    scored = _pq_adc_scores(
        codes.select("vec_id", "codes"), src_q, books, d_sub
    )
    return _rank_adc(scored, k_neighbors)


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k_neighbors: int = 3,
    n_cells: int = 8,
    cell_iters: int = 1,
    n_probe: int = 2,
    cell_cap: int | None = CELL_CAP,
    n_sub: int = 8,
    k: int = 16,
    pq_iters: int = 1,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVFPQ (the full FAISS composition): the IVF quantizer prunes
    WHAT to score — each query reads only its *n_probe* nearest Lloyd
    cells' members — and PQ compresses what gets scored: candidates
    are ranked by asymmetric distance against their CODES, never their
    vectors.  At 100 TB the cell id is the partition key and the
    per-cell payload is 8-byte codes: a probe reads n_probe cell
    partitions of codes instead of the corpus of vectors — the two
    orthogonal wins (candidate pruning × 32× payload) multiplied.

    Shape: ONE Lloyd training feeds both the primary assignment
    (capped index side, ``capped_index`` cell cap) and the query-side
    multi-probe; PQ encode is the zero-shuffle literal-codebook
    projection; each candidate pair is scored by ``_pq_adc_scores``
    (the same distance tables and gathers as ``pq_adc_topk``); the
    only exchanges are the assignment argmins, the candidate join and
    the final top-k window.  Every neighbor has one primary cell, so a
    (query, neighbor) pair arises from at most one probed cell — no
    distinct.  Returns (query_id, neighbor_id, rank, adc); exact
    6dp/rounding contract throughout, so the DuckDB twin reproduces
    it."""
    d_sub = dim // n_sub
    assign = _kmeans_assigner(emb, n_cells, cell_iters, dim)
    cells = assign(1)
    probes = assign(n_probe).filter(F.col("vec_id") < n_queries)
    books = pq_codebooks(emb, n_sub, k, pq_iters, dim)
    codes = pq_encode(emb, n_sub, k, pq_iters, dim, codebooks=books)
    idx = capped_index(cells, ["cell"], "vec_id", cell_cap).join(
        codes, "vec_id"
    )
    cand = probes.select(F.col("vec_id").alias("query_id"), "cell").join(
        idx, "cell"
    )
    scored = _pq_adc_scores(
        cand.select("query_id", "vec_id", "codes"),
        emb.filter(F.col("vec_id") < n_queries),
        books,
        d_sub,
    )
    return _rank_adc(scored, k_neighbors)


def _rank_adc(scored: DataFrame, k_neighbors: int) -> DataFrame:
    """ONE ranking tail for both ADC searches (rank by adc asc,
    neighbor-id ties, top-k) — a tie-break or cast change here reaches
    ``pq_adc_topk`` and ``ivfpq_topk`` together (review r7; the
    _rank_scored pattern)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def _pq_adc_scores(
    rows: DataFrame,
    queries: DataFrame,
    books: list,
    d_sub: int,
) -> DataFrame:
    """(query_id, neighbor_id, adc), self pairs excluded — the ONE ADC
    scorer, a table-based scan: the query→centroid distance tables
    (q × m × k, each term round(‖q_s − c‖², 6)) are computed ONCE on
    the driver, and scoring a pair is then m table gathers + a sum,
    with no per-pair distance arithmetic (the FAISS ADC shape).  The
    (vec_id, embedding) *queries* are collected (a small query set)
    and ship with the codebooks via the task closure.

    *rows* is either (vec_id, codes) — every row scored against every
    query (``pq_adc_topk``'s full scan) — or (query_id, vec_id,
    codes) — each row scored against its own query only
    (``ivfpq_topk``'s probe-pruned candidates)."""
    import numpy as np

    paired = "query_id" in rows.columns
    q_rows = queries.select("vec_id", "embedding").collect()
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    m = len(books)
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64).reshape(
        len(q_rows), m * d_sub
    )
    # distance tables: DT[s][qi, code_pos] = round(||q_s - cent||^2, 6),
    # and per-subspace code → position LUTs (codebooks are sorted by
    # code, but codes need not be dense)
    DT, luts = [], []
    for s, book in enumerate(books):
        cents = np.array([v for _c, v in book], dtype=np.float64)
        Qs = Q[:, s * d_sub : (s + 1) * d_sub]
        DT.append(_np_round6(((Qs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)))
        lut = np.full(max(c for c, _v in book) + 1, -1, dtype=np.int64)
        for i, (c, _v) in enumerate(book):
            lut[c] = i
        luts.append(lut)
    q_order = np.argsort(q_ids)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nn = pdf["vec_id"].to_numpy()
            cm = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            if paired:
                qq = pdf["query_id"].to_numpy()
                qi = q_order[np.searchsorted(q_ids[q_order], qq)]
            else:
                # (q, 1) against (n,) broadcasts to every (query, row) pair
                qi = np.arange(len(q_ids))[:, None]
                qq = np.repeat(q_ids, len(nn))
                nn = np.tile(nn, len(q_ids))
            total = np.zeros(np.broadcast_shapes(qi.shape, cm.shape[:1]))
            for s in range(m):
                total += DT[s][qi, luts[s][cm[:, s]]]
            adc = _np_round6(total).ravel()
            keep = qq != nn
            yield pd.DataFrame(
                {"query_id": qq[keep], "neighbor_id": nn[keep], "adc": adc[keep]}
            )

    ensure_py_deps(rows.sparkSession)  # run() calls _np_round6 by reference
    return rows.mapInPandas(run, "query_id long, neighbor_id long, adc double")


def lsh_buckets(emb: DataFrame, planes: list[list[float]] | None = None) -> DataFrame:
    """(vec_id, bucket): bucket = Σ 2^p · [v·h_p > 0] over literal
    planes — a pure per-row projection (array dot against literal
    plane arrays in codegen): ZERO shuffle, where the flat form paid a
    full groupBy exchange of corpus × dim rows."""
    planes = planes or hyperplanes()
    bucket = sum(
        [
            F.when(
                dot_arrays("embedding", F.array(*[F.lit(w) for w in plane]))
                > 0,
                F.lit(2**p).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for p, plane in enumerate(planes)
        ],
        F.lit(0).cast("long"),
    )
    return emb.select("vec_id", bucket.alias("bucket"))
