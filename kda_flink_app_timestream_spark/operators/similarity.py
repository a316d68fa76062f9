"""Similarity search over embedding columns (``array<float>``, len 64).

Two paths (driver-mandated surface, BASELINE.json:6):

- **Brute-force cosine top-k** — exact baseline: query-set × corpus
  join, expression-only cosine, per-query top-k via row_number. The
  corpus side stays partitioned; the (small) query set broadcasts, so
  the join is shuffle-free at any corpus size; the only shuffle is the
  per-query top-k (k rows per query survive the partial top-k).
- **LSH-bucketed ANN** — scale path: random-hyperplane signs →
  ``n_planes``-bit bucket per vector; candidates come only from the
  query's bucket. Hyperplanes are derived from the portable hash
  (deterministic, engine-agnostic), so the whole index is reproducible
  SQL — no stored model. Recall/cost trades via ``n_planes``
  (fewer planes → bigger buckets → higher recall, more compute).

At a real 100 TB deployment the bucketed corpus would be written out
bucket-partitioned (``partitionBy(bucket)``) so queries prune to one
partition per probe — same operator, storage-side optimization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

import functools
import hashlib

from ..functions import sql_ident
from ..functions.vectors import as_double, dot_unrolled, norm_unrolled

N_PLANES = 8  # 256 buckets
DIM = 64


def _plane_component(plane: int, d: int) -> float:
    """Deterministic pseudo-random component in [-1, 1]: same md5-derived
    value as functions.text.portable_hash64 with seed 'lsh' — computed
    once in Python and inlined as a literal on BOTH engines, so the
    whole index is reproducible with no stored model."""
    h = int(hashlib.md5(f"lsh|p{plane}d{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


@functools.lru_cache(maxsize=None)
def plane_components(plane: int, dim: int = DIM) -> tuple[float, ...]:
    """Components of hyperplane ``plane`` — any index, generated on
    demand (banded blocking uses planes beyond the first N_PLANES)."""
    return tuple(_plane_component(plane, d) for d in range(dim))


HYPERPLANES: tuple[tuple[float, ...], ...] = tuple(
    plane_components(p) for p in range(N_PLANES)
)


def hyperplane(plane: int, dim: int = DIM) -> Column:
    # plane_components is generated per (plane, d), so asking for the
    # caller's dim directly is prefix-stable for dim <= DIM and — unlike
    # the old `[:dim]` slice of a DIM-wide tuple — still correct for
    # dim > DIM, where the truncated array would zip_with NULL-pad,
    # NULL-poison every dot, and collapse all vectors into bucket 0
    return F.array(*[F.lit(c) for c in plane_components(plane, dim)])


def _hyperplane_sql(plane: int, dim: int) -> str:
    """``hyperplane`` as a SQL double-array literal. ``repr(c)D`` is
    bit-exact: repr emits the shortest round-tripping decimal and SQL
    double literals parse correctly-rounded, so the parsed double is
    the identical value ``F.lit(c)`` shipped through py4j."""
    return (
        "array(" + ", ".join(f"{c!r}D" for c in plane_components(plane, dim)) + ")"
    )


def lsh_bucket(
    vec: Column | str, n_planes: int = N_PLANES, dim: int = DIM, plane_offset: int = 0
) -> Column:
    """Sign-concatenation bucket id in [0, 2^n_planes), over planes
    ``plane_offset … plane_offset + n_planes`` (banded blocking hashes
    each band with its own plane slice).

    Implementation note (r3, measured): an UNROLLED element_at-chain
    form of the plane dots (n_planes·dim product terms in one
    expression) breaks whole-stage codegen — Janino fails on the
    >64 KB method, logs ``Failed to compile the generated Java code``,
    re-attempts the compile on EVERY execution (~2-3 s each), and then
    evaluates interpreted anyway. The zip_with/aggregate fold here is
    ~10× faster end-to-end at bench scale and identical in value
    (``0.0 + x == x`` makes the fold's double sequence equal the
    left-assoc chain, and the plane components are the same literals),
    so the oracles are unaffected.

    r15: with a column NAME (every internal call site), the whole
    bucket expression is rendered as ONE F.expr SQL string — the
    Column-API form cost ~65 py4j round trips per plane (n_planes·dim
    float literals, ~0.4-0.9 s per call at local latency; guide §1/
    §7.3 driver-side planning). The SQL parses to the same fold tree.
    A Column argument keeps the original builder."""
    if isinstance(vec, str):
        vec = sql_ident(vec)
        terms = []
        for p in range(n_planes):
            d = (
                f"aggregate(zip_with({vec}, "
                f"{_hyperplane_sql(plane_offset + p, dim)}, "
                f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
            )
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
        return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")
    bucket = None
    for p in range(n_planes):
        d = F.aggregate(
            F.zip_with(vec, hyperplane(plane_offset + p, dim), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        contrib = F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = contrib if bucket is None else bucket + contrib
    return bucket.cast("long")


def _safe_cosine(dot_col: Column, na: Column, nb: Column) -> Column:
    """Cosine with the zero-norm edge pinned to 0.0 on BOTH engines:
    Spark's non-ANSI x/0 yields NULL while DuckDB yields inf/nan, so an
    all-zero embedding would rank differently (NULL ordering vs nan)
    per engine. 0.0 = "no similarity signal", ranked deterministically
    last; for every nonzero-norm pair the expression is the identical
    division as before. SQL twin: ``sql_safe_cosine`` in the plan
    modules' oracle builders."""
    return F.when((na != 0.0) & (nb != 0.0), dot_col / (na * nb)).otherwise(F.lit(0.0))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared per-query top-k re-rank: rounded similarity DESC with
    neighbor-id tie-break → fully deterministic cut (one shuffle on
    query_id; the window's partial top-k keeps k rows per query per
    input partition before the merge)."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "neighbor_id", "cosine_sim", F.col("rk").cast("int").alias("rk")
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus
    vectors (self-matches excluded). Rank on rounded similarity with id
    tie-break → fully deterministic output. ``dim`` must match the
    embedding width (the unrolled arithmetic is fixed-dim by design)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_unrolled("qv", dim))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_unrolled("cv", dim))
    # norms precomputed per VECTOR (not per pair) — same doubles, ~3x
    # less arithmetic on the quadratic stage, all inside codegen
    sim = F.round(
        _safe_cosine(dot_unrolled("qv", "cv", dim), F.col("qn"), F.col("cn")), 6
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return _rank_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = DIM,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket, then
    exact cosine re-rank within the bucket (approximate — a neighbor in
    another bucket is missed; that's the ANN trade)."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("bucket", lsh_bucket("qv", n_planes, dim))
        .withColumn("qn", norm_unrolled("qv", dim))
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("bucket", lsh_bucket("cv", n_planes, dim))
        .withColumn("cn", norm_unrolled("cv", dim))
    )
    sim = F.round(
        _safe_cosine(dot_unrolled("qv", "cv", dim), F.col("qn"), F.col("cn")), 6
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return _rank_topk(scored, k)


EMB_N_BANDS = 4
EMB_PLANES_PER_BAND = 4


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    n_bands: int = EMB_N_BANDS,
    planes_per_band: int = EMB_PLANES_PER_BAND,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold, blocked on the
    COMPOUND key ``(block_col, band, lsh_bucket_band(vec))`` with OR-
    amplification across ``n_bands`` sign-LSH bands.

    Metadata blocking alone is a skew bomb: a label holding p·N vectors
    costs (p·N)² comparisons. Sub-bucketing every label by a
    ``planes_per_band``-bit sign bucket bounds each block at
    ~|label| / 2^planes_per_band per band, so no block goes quadratic;
    banding (pair is a candidate if ANY band agrees — same
    OR-amplification as MinHash LSH, operators/dedup.py) restores the
    recall a single bucket would lose: P[candidate] = 1-(1-(1-θ/π)^r)^b
    ≈ 0.95 at cosine 0.9 with the 4×4 default. Candidates are distinct
    (id_a, id_b) — the band join carries only (block, band, bucket, id),
    ~24 bytes/row; vectors re-join AFTER candidate dedup, so the wide
    embedding column never rides the band shuffle.

    Pass ``block_col=None`` for unlabeled corpora (bucket-only
    blocking), ``n_bands=0`` for exact within-label pairs (no
    sub-bucketing — only safe when every label is small).
    """
    blk_cols = [c for c in [block_col] if c]
    vecs = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", norm_unrolled("__v", DIM))
    sim = F.round(
        _safe_cosine(dot_unrolled("va", "vb", DIM), F.col("na"), F.col("nb")), 6
    )

    if n_bands <= 0:
        if not blk_cols:
            raise ValueError("n_bands=0 requires a block_col (else all-pairs)")
        a = df.select(F.col(id_col).alias("id_a"), *blk_cols)
        b = df.select(F.col(id_col).alias("id_b"), *blk_cols)
        cand = a.join(b, blk_cols).filter(F.col("id_a") < F.col("id_b"))
    else:
        buckets = F.array(
            *[
                lsh_bucket("__v", planes_per_band, plane_offset=band * planes_per_band)
                for band in range(n_bands)
            ]
        )
        banded = df.select(
            F.col(id_col).alias("__id"), *blk_cols, as_double(F.col(vec_col)).alias("__v")
        ).select(
            "__id",
            *blk_cols,
            F.posexplode(buckets).alias("band", "bkt"),
        )
        keys = blk_cols + ["band", "bkt"]
        a = banded.select(F.col("__id").alias("id_a"), *keys)
        b = banded.select(F.col("__id").alias("id_b"), *keys)
        cand = (
            a.join(b, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    return (
        cand.join(
            vecs.select(
                F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
            ),
            "id_b",
        )
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- IVF (inverted-file) ANN ------------------------------------------------

IVF_CENTROID_RANGE = (100, 116)  # 16 fixed corpus vectors as the codebook
IVF_NPROBE = 2


def ivf_centroids(corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic IVF codebook: a fixed slice of corpus vectors.

    Real IVF trains the codebook with k-means (an offline iterative job,
    orthogonal to the query path); the assignment/probe/re-rank pipeline
    below is identical either way, and a fixed codebook keeps the whole
    index reproducible in the SQL oracle."""
    lo, hi = IVF_CENTROID_RANGE
    return corpus.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)).select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("centroid")
    )


def _collect_centroids(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """The IVF codebook as driver-side MODEL STATE: 16 rows, bounded by
    construction — the same collect-and-inline pattern as ``pq_codes``'
    codebook and the k-means centroids (operators/clustering.py), so
    assignment becomes a pure narrow projection and the corpus NEVER
    shuffles for it."""
    out = sorted(
        (r["cid"], [float(x) for x in r["centroid"]]) for r in cents.collect()
    )
    if not out:
        # mirror _collect_pq_codebook's guard (VERDICT r10 #5): an empty
        # codebook means every vector's nearest-centroid explode yields
        # ZERO rows, so ivf/ivfpq would silently return EMPTY results —
        # a corpus missing the centroid id-slice is caller misuse and
        # must fail loudly, not produce a plausible empty answer
        lo, hi = IVF_CENTROID_RANGE
        raise ValueError(
            f"IVF centroid codebook is empty: no corpus rows with ids in "
            f"[{lo}, {hi}) — pass a corpus containing the centroid slice"
        )
    return out


def _fold_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _centroid_struct_literal(cents: list[tuple[int, list[float]]]) -> Column:
    """The codebook as ONE literal ``array<struct<cid, cn, cv>>`` —
    centroid norms precomputed in Python (``math.sqrt`` over the
    left-assoc ``sum`` is the identical IEEE double sequence as the SQL
    ``sqrt(list_dot_product(c, c))`` fold, and ``repr`` round-trips the
    exact value into the plan)."""
    import math

    entries = []
    for cid, cv in cents:
        cn = math.sqrt(sum(x * x for x in cv))
        arr = ", ".join(f"{x!r}D" for x in cv)
        entries.append(
            f"named_struct('cid', {cid}L, 'cn', {cn!r}D, 'cv', array({arr}))"
        )
    return F.expr("array(" + ", ".join(entries) + ")")


def _nearest_centroids(
    vectors: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    norm_col: str,
    k: int,
) -> DataFrame:
    """Top-k nearest centroids per vector as a ZERO-SHUFFLE projection
    (BACKLOG r6 #12): one ``transform`` over the literal codebook array
    computes a guarded cosine per centroid — the lambda body compiles
    ONCE and loops at runtime (the ``clustering._assign`` pattern; 16
    separately-unrolled struct expressions made the projection ~3×
    slower end-to-end, the same codegen-bloat class vectors.py
    documents for unrolled dots). The ``(csim, -cid)`` struct array
    sorts descending and slices to k — max cosine first, smaller cid on
    ties, exactly the ordering the previous crossJoin + row_number
    window produced (the SQL oracle keeps the window form; same
    doubles, same tie rule) — without shuffling the k×-expanded
    corpus."""
    cand = F.transform(
        _centroid_struct_literal(cents),
        lambda c: F.struct(
            _safe_cosine(
                _fold_dot(F.col(vec_col), c["cv"]), F.col(norm_col), c["cn"]
            ).alias("csim"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    best = F.slice(F.sort_array(cand, asc=False), 1, k)
    return (
        vectors.select("*", F.explode(best).alias("__best"))
        .select("*", (-F.col("__best.negcid")).alias("cid"))
        .drop("__best")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid list;
    a query probes its ``nprobe`` closest lists and exact-re-ranks only
    those candidates. At 100 TB the corpus is written
    ``partitionBy(cid)`` so each probe prunes to nprobe partitions.

    Plan shape: assignment is a narrow projection against the inlined
    16-centroid codebook (zero shuffle — the corpus moves only for the
    final per-query top-k), norms are computed once per VECTOR and
    carried into the re-rank, and candidates need no dedup: assignment
    is k=1, so a (query, neighbor) pair can meet on at most one cid
    (the old ``.distinct()`` was a dead full shuffle — BACKLOG r6 #11)."""
    cents = _collect_centroids(ivf_centroids(corpus, id_col, vec_col))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_unrolled("cv", DIM))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_unrolled("qv", DIM))
    assigned = _nearest_centroids(c, cents, "cv", "cn", 1)
    probed = _nearest_centroids(q, cents, "qv", "qn", nprobe)
    sim = F.round(
        _safe_cosine(dot_unrolled("qv", "cv", DIM), F.col("qn"), F.col("cn")), 6
    )
    scored = (
        assigned.join(F.broadcast(probed), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return _rank_topk(scored, k)


# --- Product quantization (PQ) ----------------------------------------------

PQ_N_SUB = 4                      # 64 dims -> 4 subspaces of 16
PQ_CODEBOOK_RANGE = (100, 108)    # 8 fixed corpus vectors as codewords
PQ_SCALE = 1 << 20                # same exact-integer grid as k-means


def pq_codes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQ_N_SUB,
    dim: int = DIM,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``n_sub``
    subvectors and store only the id of the nearest codeword per
    subspace — 64 floats (256 B) become 4 codes (4 B), the compression
    that makes billion-vector ANN fit in memory at 100 TB scale
    (Jégou et al. 2011, the public PQ recipe).

    Spark-first shape mirrors k-means assignment
    (operators/clustering.py): the codebook is MODEL STATE — 8 vectors
    collected once on the driver and inlined into the plan as a small
    literal array — while the corpus never shuffles; encoding is a pure
    narrow projection: per subspace, ``array_min`` over (dist, code)
    structs computed by a zip_with/aggregate integer fold. (An earlier
    unrolled element_at-chain form put ~2000 terms in one projection,
    which breaks Janino/JIT compilation — see
    functions/vectors.py:dot_unrolled for the measurements.)

    Exactness: vectors are quantized to ``floor(x · 2^20)`` bigints, so
    squared distances, argmin ties (→ smaller code id) and the summed
    reconstruction error are bit-identical across engines — integer
    sums are order-independent, unlike floats. Codewords are a fixed
    corpus slice (same reproducible-codebook trick as IVF; a trained
    codebook would come from ``kmeans_assign`` per subspace and changes
    nothing downstream)."""
    sub_dim = dim // n_sub
    lo, hi = PQ_CODEBOOK_RANGE
    q = F.transform(
        as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(float(PQ_SCALE))).cast("long"),
    )
    pts = corpus.select(F.col(id_col).alias("__pid"), q.alias("qv"))
    # codebook scan filters the RAW corpus before quantizing, so the
    # collect's scan prunes to the 8 codeword rows at the source (the
    # optimizer pushed this anyway; explicit keeps it plan-independent)
    cb_src = corpus.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)).select(
        F.col(id_col).alias("__pid"), q.alias("qv")
    )
    codebook = sorted((r["__pid"], list(r["qv"])) for r in cb_src.collect())

    def sub_codebook_literal(s: int) -> Column:
        structs = ", ".join(
            f"named_struct('c', {int(code)}L, 'cv', array("
            + ", ".join(f"{int(w[s * sub_dim + i])}L" for i in range(sub_dim))
            + "))"
            for code, w in codebook
        )
        return F.expr(f"array({structs})")

    def sq_dist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    def best(s: int) -> Column:
        sub = F.slice(F.col("qv"), s * sub_dim + 1, sub_dim)
        cand = F.transform(
            sub_codebook_literal(s),
            lambda e: F.struct(sq_dist(sub, e["cv"]).alias("d"), e["c"].alias("c")),
        )
        return F.array_min(cand)

    # two-step select so each subspace's argmin struct is computed once
    # and shared by its code column AND the reconstruction error
    staged = pts.select(
        "__pid", *[best(s).alias(f"__b{s}") for s in range(n_sub)]
    )
    recon = None
    for s in range(n_sub):
        d = F.col(f"__b{s}")["d"]
        recon = d if recon is None else recon + d
    return staged.select(
        F.col("__pid").alias(id_col),
        *[F.col(f"__b{s}")["c"].alias(f"code_{s}") for s in range(n_sub)],
        recon.alias("recon_err"),
    )
