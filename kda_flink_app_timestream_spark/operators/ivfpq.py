"""IVF-PQ ANN with asymmetric-distance (ADC) lookup tables.

The composed index every billion-vector deployment actually runs
(Jégou et al. 2011; the FAISS ``IVFPQ`` shape, public recipe): the IVF
coarse quantizer prunes the corpus to ``nprobe`` inverted lists, and
within a list candidates are scored from their 4-byte PQ codes alone —
the query precomputes one small lookup table per subspace
(``n_codewords`` squared distances), so scoring a candidate is
``n_sub`` array lookups + adds instead of a ``dim``-wide float dot.
That asymmetry (exact query vs quantized candidate) is what "ADC"
names, and it is why the index can rank a 100 TB corpus from a few
bytes per vector: the full embedding column is never read at query
time, only ``(cid, code_0..code_{n_sub-1})``.

Spark-first shape (composes the two green building blocks):

- coarse assignment / probing reuse ``operators.similarity``'s
  zero-shuffle literal-codebook projection (``_nearest_centroids``) —
  the corpus NEVER shuffles for assignment;
- PQ encoding is the same exact-integer narrow projection as
  ``pq_codes`` (``floor(x * 2^20)`` grid → integer squared distances,
  argmin ties to the smaller code id) — bit-identical across engines
  because every sum is integer;
- the per-query LUTs are built IN the query rows (``n_sub`` arrays of
  ``n_codewords`` bigints each) so the tiny probed-query side
  broadcasts LUTs and cids together; the candidate join is a broadcast
  hash join on ``cid`` followed by a pure projection
  ``lut_s[code_s]`` — no vector arithmetic on the quadratic stage at
  all, the defining ADC property.

The only shuffle in the whole plan is the final per-query top-k.

Reference parity note: the reference engine has no ANN surface — this
is part of the mandated LLM-pipeline extension (SURVEY.md §2.2), the
similarity-search scale path beyond the LSH/IVF/PQ singles already
registered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import as_double, norm_unrolled
from .similarity import (
    DIM,
    IVF_NPROBE,
    PQ_CODEBOOK_RANGE,
    PQ_N_SUB,
    PQ_SCALE,
    _collect_centroids,
    _nearest_centroids,
    ivf_centroids,
)


def _quantized(vec_col: str) -> Column:
    """The shared exact-integer grid: ``floor(x * 2^20)`` per component
    (identical to ``pq_codes`` — double multiply + floor are
    IEEE-identical across engines, so both sides quantize to the same
    bigints)."""
    return F.transform(
        as_double(F.col(vec_col)),
        lambda x: F.floor(x * F.lit(float(PQ_SCALE))).cast("long"),
    )


def _int_sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# --- SQL-string expression assembly (r15) -----------------------------------
#
# The codebook-literal expression trees in this module are built as SQL
# STRINGS and attached with ONE selectExpr/F.expr call per stage, not
# composed through the Column API. Measured motivation (guide §1,
# cProfile at sf0.1): one composed ivfpq_refined_topk build spent
# ~4.7 s of 5.7 s waiting on py4j across 8,888 round trips — each
# Column op costs ~14 ms on this host (py4j + eager analysis), and the
# HOF lambda builders (`transform`/`aggregate`/`zip_with` via
# _create_lambda) were the top offenders (18 `_sub_code` calls = 1.8 s
# of pure plan construction). The SQL text below parses JVM-side in
# ~1-3 ms per stage and yields the SAME expression trees the Column
# form built (same literals, same named_struct field order, same
# integer arithmetic), so results are bit-identical; the literal
# arrays stay foldable and ConstantFolding collapses them exactly as
# before.


def _sq_dist_sql(a: str, b: str) -> str:
    """SQL twin of ``_int_sq_dist`` — exact integer squared L2."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _adc_sum_sql(code_ids_per_sub: list[list[int]]) -> str:
    """SQL text of the per-candidate ADC distance: the sum over
    subspaces of ``element_at(lut_s, slot(code_s))``.

    The code→slot translation must NOT assume the codeword ids form a
    gap-free range (review fix: on a corpus missing an id inside the
    codebook range, positional ``code − base + 1`` read the wrong slot
    / NULL past the end and diverged from the oracle's value-keyed
    join). The contiguity check is made in PYTHON at plan-build: a
    contiguous codebook keeps the cheap positional arithmetic —
    out-of-range yields NULL (caught loudly by the caller's guard),
    never a raw positional index, because a stale code below the base
    would turn NEGATIVE and element_at would silently read from the
    array END — and a sparse one gets an explicit literal code→slot
    map."""
    terms = []
    for s, code_ids in enumerate(code_ids_per_sub):
        if code_ids == list(range(code_ids[0], code_ids[0] + len(code_ids))):
            sl = f"CAST(`code_{s}` - {code_ids[0]} + 1 AS INT)"
            slot = f"(CASE WHEN ({sl} >= 1 AND {sl} <= {len(code_ids)}) THEN {sl} END)"
        else:
            entries = ", ".join(f"{code}, {i + 1}" for i, code in enumerate(code_ids))
            slot = f"CAST(map({entries})[`code_{s}`] AS INT)"
        terms.append(f"element_at(`lut_{s}`, {slot})")
    return " + ".join(terms)


def _collect_pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str
) -> list[tuple[int, list[int]]]:
    """The PQ codebook as bounded driver-side MODEL STATE (the
    ``pq_codes``/IVF pattern): 8 quantized codeword vectors, filter
    pushed to the raw scan, sorted by code id for deterministic LUT
    positions (LUT slot ``i`` ⇔ the i-th smallest codeword id)."""
    lo, hi = PQ_CODEBOOK_RANGE
    src = corpus.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)).select(
        F.col(id_col).alias("__cid"), _quantized(vec_col).alias("__qv")
    )
    cb = sorted((r["__cid"], [int(x) for x in r["__qv"]]) for r in src.collect())
    if not cb:
        raise ValueError(
            f"PQ codebook is empty: no corpus rows with {id_col} in "
            f"[{lo}, {hi}) — pass a corpus containing the codeword slice"
        )
    return cb


def _sub_codeword_literal_sql(
    codebook: list[tuple[int, list[int]]], s: int, sub_dim: int
) -> str:
    """Subspace ``s`` of the codebook as one literal
    ``array<struct<c, cv>>`` in code-id order (SQL text)."""
    structs = ", ".join(
        f"named_struct('c', {int(code)}L, 'cv', array("
        + ", ".join(f"{int(w[s * sub_dim + i])}L" for i in range(sub_dim))
        + "))"
        for code, w in codebook
    )
    return f"array({structs})"


def ivfpq_encode(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    codebook: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQ_N_SUB,
    dim: int = DIM,
) -> DataFrame:
    """The INDEX-BUILD half: one zero-shuffle narrow projection of the
    corpus to ``(neighbor_id, cid, code_0..code_{n_sub-1})``. In a real
    deployment this runs ONCE at write time and the result is stored
    ``partitionBy(cid)`` — query time never touches the raw vectors
    again (the encoded row is ~20 bytes vs 256 B of floats)."""
    sub_dim = dim // n_sub
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            _quantized(vec_col).alias("qv"),
        )
        .withColumn("cn", norm_unrolled("cv", dim))
    )
    assigned = _nearest_centroids(c, cents, "cv", "cn", 1)

    def code_sql(s: int) -> str:
        sub = f"slice(qv, {s * sub_dim + 1}, {sub_dim})"
        cand = (
            f"transform({_sub_codeword_literal_sql(codebook, s, sub_dim)}, "
            f"e -> named_struct('d', {_sq_dist_sql(sub, 'e.cv')}, 'c', e.c))"
        )
        return f"array_min({cand})['c']"

    return assigned.selectExpr(
        "neighbor_id", "cid", *[f"{code_sql(s)} AS code_{s}" for s in range(n_sub)]
    )


def ivfpq_adc_search(
    encoded: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    codebook: list[tuple[int, list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
    n_sub: int = PQ_N_SUB,
    dim: int = DIM,
) -> DataFrame:
    """The QUERY half: probe ``nprobe`` lists and score candidates from
    their codes alone via per-query ADC LUTs — ``n_sub`` integer array
    lookups per candidate, no vector arithmetic, no embedding reads."""
    sub_dim = dim // n_sub
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qdv"),
            _quantized(vec_col).alias("qq"),
        )
        .withColumn("qn", norm_unrolled("qdv", dim))
    )
    probed = _nearest_centroids(q, cents, "qdv", "qn", nprobe)

    def lut_sql(s: int) -> str:
        sub = f"slice(qq, {s * sub_dim + 1}, {sub_dim})"
        return (
            f"transform({_sub_codeword_literal_sql(codebook, s, sub_dim)}, "
            f"e -> {_sq_dist_sql(sub, 'e.cv')})"
        )

    probed = probed.selectExpr(
        "query_id", "cid", *[f"{lut_sql(s)} AS lut_{s}" for s in range(n_sub)]
    )

    # --- ADC scoring: broadcast the (queries × nprobe) probe side; a
    # candidate costs n_sub array lookups — LUT slot i is codeword i in
    # code-id order. Slot translation + gap handling: _adc_sum_sql
    # (bench: the sparse-map path costs ~0.3 ms/row extra — only paid
    # when the ids actually have gaps).
    code_ids = [int(code) for code, _w in codebook]
    adc = F.expr(_adc_sum_sql([code_ids] * n_sub))
    # A NULL ADC distance can only mean the encoded table's codes do
    # not match the codebook passed here (stale index, or the
    # encode/search split called with different codebooks): every
    # legitimate code resolves to a LUT slot. asc() is nulls-FIRST in
    # Spark, so without this guard mismatched candidates would silently
    # rank at the TOP of every query's top-k (ADVICE r10) — fail the
    # query loudly instead.
    adc = F.when(
        adc.isNull(),
        F.raise_error(
            F.lit(
                "ivfpq_adc_search: NULL ADC distance — the encoded "
                "table's codes do not match the supplied codebook "
                "(stale index / mismatched encode-search codebooks); "
                "re-encode with the codebook passed to search"
            )
        ),
    ).otherwise(adc)
    scored = (
        encoded.join(F.broadcast(probed), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --- trained-codebook IVF-PQ with exact refine (the recall fix path) --------
#
# The registered `sim_ivfpq_adc_topk` config retrieves poorly by design
# honesty (VERDICT r11: recall@5 ≈ 4% — untrained 8-codeword corpus-
# slice codebook, nprobe 2/16, ADC top-k emitted raw). Measured r12
# findings that shaped this variant (numbers at sf0.01, 500 vectors,
# truth = exact cosine top-5):
#   - the corpus embeddings are UNIT-NORM already, so the r11 "L2-vs-
#     cosine metric mismatch" hypothesis is moot here: L2-normalizing
#     before encode changes nothing (recall 4% → 4%);
#   - the binding constraint is the COARSE quantizer: true neighbors
#     land in the probed lists only 23% of the time at nprobe=2, 38%
#     at 4, 73% at 8 (random data clusters weakly around a corpus-
#     slice codebook);
#   - within the probed lists, a per-subspace Lloyd-TRAINED codebook
#     (8 subspaces × 16 codewords, one update round) plus an ADC
#     shortlist re-ranked EXACTLY (the FAISS refine step — reads ≤
#     shortlist embeddings per query, still never scans the corpus)
#     recovers most of the cap: recall@5 = 60% at nprobe=8/shortlist
#     50 vs 4% for the registered base config.
PQT_N_SUB = 8        # 64 dims → 8 subspaces of 8
PQT_N_CODES = 16     # 16 TRAINED codewords per subspace (seeds: id < 16)
PQT_ITERS = 2        # Lloyd assignment rounds (1 centroid update) —
#                      matches the oracle's unrolled CTE chain
PQT_COARSE_LISTS = 16  # TRAINED coarse centroids (full-vector k-means —
#                        train_pq_codebooks with n_sub=1; the corpus-
#                        slice codebook capped probe recall at 23/38/73%
#                        for nprobe 2/4/8, the trained one measures
#                        76/86/94% under the same integer-L2 metric)
PQT_NPROBE = 4       # trained-coarse probe width: 86% cap probing 4/16
#                      of the corpus
PQT_SHORTLIST = 100  # ADC candidates exact-refined per query — the
#                      measured saturation point: recall@5 0.79 at
#                      shortlist 50 (ADC noise squeezes true neighbors
#                      out), 0.86 at 100 = the FULL nprobe=4 probe cap
#                      (identical to an exhaustive exact re-rank of the
#                      probed lists), flat beyond; the refine still
#                      reads ≤ 100 embeddings/query


def _sub_cb_literal_sql(cb_s: list[tuple[int, list[int]]]) -> str:
    """One subspace codebook as a literal ``array<struct<c, cv>>``
    (code-id order, SQL text) — the per-subspace twin of
    ``_sub_codeword_literal_sql``, for codebooks whose codewords differ
    by subspace (trained PQ) instead of slicing shared full-dim
    vectors."""
    structs = ", ".join(
        f"named_struct('c', {int(code)}L, 'cv', array("
        + ", ".join(f"{int(x)}L" for x in w)
        + "))"
        for code, w in cb_s
    )
    return f"array({structs})"


def _sub_code_sql(cb_s: list[tuple[int, list[int]]], s: int, sub_dim: int) -> str:
    """Nearest codeword id for subspace ``s`` of a quantized row ``qv``
    (exact integer distances, ties to the smaller code id via
    ``array_min`` over (d, c) structs), as SQL text."""
    sub = f"slice(`qv`, {s * sub_dim + 1}, {sub_dim})"
    cand = (
        f"transform({_sub_cb_literal_sql(cb_s)}, "
        f"e -> named_struct('d', {_sq_dist_sql(sub, 'e.cv')}, 'c', e.c))"
    )
    return f"array_min({cand})['c']"


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQT_N_SUB,
    n_codes: int = PQT_N_CODES,
    iters: int = PQT_ITERS,
    dim: int = DIM,
    pts: DataFrame | None = None,
) -> list[list[tuple[int, list[int]]]]:
    """Per-subspace Lloyd-trained PQ codebooks on the exact-integer
    grid — the ``operators/clustering.py`` recipe (deterministic
    ``id < n_codes`` seeding, integer ``sum div count`` centroid means,
    ties to the smaller code id) run once per subspace, so the whole
    training is oracle-expressible as unrolled CTE rounds.

    Distributed shape: every assignment round is ONE zero-shuffle
    narrow projection (all subspaces' codes computed against inlined
    literal codebooks); the update tree-aggregates to
    ``n_sub × n_codes × sub_dim`` integer cells (map-side combine —
    1024 cells at the defaults, independent of corpus size) and the
    new codebooks come back as bounded driver-side model state. An
    emptied codeword simply disappears, deterministically on both
    engines.

    ``pts`` lets a caller that trains BOTH granularities (the refined
    pipeline trains a coarse quantizer and the subspace codebooks off
    the same corpus) hand in one shared cached ``(pid, qv)`` quantized
    projection instead of each call building, caching, and
    defer-releasing an identical copy (ADVICE r12: double executor
    storage + double corpus quantization scans)."""
    sub_dim = dim // n_sub
    if pts is None:
        pts = corpus.select(
            F.col(id_col).alias("pid"), _quantized(vec_col).alias("qv")
        ).cache()
        from ..session import defer_release

        defer_release(pts)  # each update round re-scans the quantized corpus
    seeds = sorted(
        (r["pid"], [int(x) for x in r["qv"]])
        for r in pts.filter(F.col("pid") < n_codes).collect()
    )
    if len(seeds) < n_codes:
        raise ValueError(
            f"PQ training found {len(seeds)} of {n_codes} seed vectors "
            f"with {id_col} < {n_codes}: the id<n_codes seed contract "
            "(shared with the SQL oracle) requires a dense 0-based id space"
        )
    cbs = [
        [(pid, qv[s * sub_dim : (s + 1) * sub_dim]) for pid, qv in seeds]
        for s in range(n_sub)
    ]
    for _ in range(iters - 1):
        assigned = pts.selectExpr(
            "qv",
            *[f"{_sub_code_sql(cbs[s], s, sub_dim)} AS c_{s}" for s in range(n_sub)],
        )
        cell_structs = ", ".join(
            f"named_struct('sub', {s}, 'code', c_{s}, "
            f"'sv', slice(qv, {s * sub_dim + 1}, {sub_dim}))"
            for s in range(n_sub)
        )
        cells = assigned.selectExpr(f"explode(array({cell_structs})) AS cell")
        per_el = (
            cells.select("cell.sub", "cell.code", F.posexplode("cell.sv").alias("spos", "v"))
            .groupBy("sub", "code", "spos")
            .agg(F.expr("sum(v) div count(*)").alias("w"))
            .collect()
        )
        by: dict[tuple[int, int], dict[int, int]] = {}
        for r in per_el:
            by.setdefault((r["sub"], r["code"]), {})[r["spos"]] = r["w"]
        cbs = [
            sorted(
                (code, [dims[p] for p in sorted(dims)])
                for (sub, code), dims in by.items()
                if sub == s
            )
            for s in range(n_sub)
        ]
    return cbs


def _coarse_probe_sql(cb0: list[tuple[int, list[int]]], dim: int, nprobe: int) -> str:
    """Top-``nprobe`` TRAINED coarse centroid ids for a quantized row
    ``qv`` by exact integer L2 (ties to the smaller id) — the probe
    twin of ``_sub_code_sql``'s k=1 assignment, as one zero-shuffle
    sort+slice over the literal codebook (explode the result to one
    row per probed list), as SQL text."""
    d = _sq_dist_sql(f"slice(qv, 1, {dim})", "e.cv")
    cand = (
        f"transform({_sub_cb_literal_sql(cb0)}, "
        f"e -> named_struct('d', {d}, 'c', e.c))"
    )
    return f"transform(slice(sort_array({cand}), 1, {nprobe}), s -> s.c)"


def ivfpq_refined_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = PQT_NPROBE,
    n_sub: int = PQT_N_SUB,
    n_codes: int = PQT_N_CODES,
    iters: int = PQT_ITERS,
    shortlist: int = PQT_SHORTLIST,
    n_lists: int = PQT_COARSE_LISTS,
    dim: int = DIM,
) -> DataFrame:
    """TRAINED IVF + TRAINED PQ + exact refine — the production
    retrieval pipeline (FAISS ``IVFPQ,Refine``-shaped): a Lloyd-trained
    coarse quantizer routes the corpus into ``n_lists`` inverted lists
    (full-vector k-means = ``train_pq_codebooks`` with n_sub=1 — the
    codebook is ONE exact-integer training recipe at both granularities),
    each query probes its ``nprobe`` nearest lists by integer L2,
    candidates shortlist by ADC (codes only, no embedding reads), and
    only the shortlist is re-ranked by exact cosine.

    Scale shape: both trainings are bounded model state (see
    ``train_pq_codebooks``); encode/probe are zero-shuffle literal
    projections; the refine joins the ≤ queries×shortlist id set back
    to the corpus as a BROADCAST hash join (the corpus scans once,
    never shuffles, and only shortlisted rows' embeddings are ever
    materialized).

    Output: (query_id, neighbor_id, cosine_sim, rk) — same contract as
    every cosine top-k in the family. Measured recall@5 at sf0.01:
    **0.86** probing 4/16 of the corpus — the FULL nprobe=4 probe cap
    (the shortlist saturates the cap, so ADC costs zero recall) — vs
    0.60 for the r12-draft slice-codebook coarse at nprobe=8 (half the
    corpus) and 0.04 for the untrained no-refine base config; the
    trained coarse lifts the probe cap from 23/38/73% to 76/86/94%
    (nprobe 2/4/8)."""
    from ..session import defer_release

    # ONE cached quantized projection feeds the trainings AND the
    # encode (r14): train already cached (pid, qv); the encode used to
    # re-scan and re-quantize the raw corpus for the identical values.
    pts = corpus.select(
        F.col(id_col).alias("pid"), _quantized(vec_col).alias("qv")
    ).cache()
    defer_release(pts)
    coarse, cbs = ivfpq_refined_train(
        corpus, id_col, vec_col, n_sub, n_codes, iters, n_lists, dim, pts=pts
    )
    encoded = ivfpq_refined_encode(
        corpus, coarse, cbs, id_col, vec_col, n_sub, dim, pts=pts
    )
    return ivfpq_refined_search(
        encoded, corpus, queries, coarse, cbs, k, id_col, vec_col,
        nprobe, n_sub, shortlist, dim,
    )


def ivfpq_refined_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQT_N_SUB,
    n_codes: int = PQT_N_CODES,
    iters: int = PQT_ITERS,
    n_lists: int = PQT_COARSE_LISTS,
    dim: int = DIM,
    pts: DataFrame | None = None,
) -> tuple[list[tuple[int, list[int]]], list[list[tuple[int, list[int]]]]]:
    """The TRAIN half: (trained coarse quantizer, trained per-subspace
    PQ codebooks) as bounded driver-side model state — in production
    this runs once (or on drift) and the codebooks ship with the
    stored index. ONE shared quantized projection feeds both trainings
    (ADVICE r12: separate per-call caches doubled executor storage and
    corpus quantization scans); ``pts`` lets the composed pipeline hand
    in a caller-cached ``(pid, qv)`` projection it also feeds to the
    encode (r14 — the train_pq_codebooks precedent).

    r14 optimization: the two granularities train FUSED — one seed
    collect (``pid < max(n_lists, n_codes)`` serves both, sliced per
    granularity) and, per Lloyd round, ONE assignment+update job that
    computes the coarse code and all ``n_sub`` subspace codes in the
    same narrow projection and tree-aggregates every granularity's
    cells through one groupBy (coarse cells tagged ``sub = -1``). The
    previous form ran ``train_pq_codebooks`` twice — two seed collects
    + two update jobs over the same cached corpus; per-cell arithmetic
    (``sum(v) div count(*)`` on disjoint (sub, code, spos) groups) is
    untouched, so both codebooks are bit-identical to the unfused
    training (pinned by tests)."""
    if pts is None:
        from ..session import defer_release

        pts = corpus.select(
            F.col(id_col).alias("pid"), _quantized(vec_col).alias("qv")
        ).cache()
        defer_release(pts)
    sub_dim = dim // n_sub
    n_seed = max(n_codes, n_lists)
    seeds = sorted(
        (r["pid"], [int(x) for x in r["qv"]])
        for r in pts.filter(F.col("pid") < n_seed).collect()
    )
    if len(seeds) < n_seed:
        raise ValueError(
            f"PQ training found {len(seeds)} of {n_seed} seed vectors "
            f"with {id_col} < {n_seed}: the id<n seed contract "
            "(shared with the SQL oracle) requires a dense 0-based id space"
        )
    coarse = [(pid, qv) for pid, qv in seeds if pid < n_lists]
    cbs = [
        [
            (pid, qv[s * sub_dim : (s + 1) * sub_dim])
            for pid, qv in seeds
            if pid < n_codes
        ]
        for s in range(n_sub)
    ]
    for _ in range(iters - 1):
        assigned = pts.selectExpr(
            "qv",
            f"{_sub_code_sql(coarse, 0, dim)} AS g",
            *[f"{_sub_code_sql(cbs[s], s, sub_dim)} AS c_{s}" for s in range(n_sub)],
        )
        cell_structs = ", ".join(
            ["named_struct('sub', -1, 'code', g, 'sv', qv)"]
            + [
                f"named_struct('sub', {s}, 'code', c_{s}, "
                f"'sv', slice(qv, {s * sub_dim + 1}, {sub_dim}))"
                for s in range(n_sub)
            ]
        )
        cells = assigned.selectExpr(f"explode(array({cell_structs})) AS cell")
        per_el = (
            cells.select(
                "cell.sub", "cell.code", F.posexplode("cell.sv").alias("spos", "v")
            )
            .groupBy("sub", "code", "spos")
            .agg(F.expr("sum(v) div count(*)").alias("w"))
            .collect()
        )
        by: dict[tuple[int, int], dict[int, int]] = {}
        for r in per_el:
            by.setdefault((r["sub"], r["code"]), {})[r["spos"]] = r["w"]
        coarse = sorted(
            (code, [dims[p] for p in sorted(dims)])
            for (sub, code), dims in by.items()
            if sub == -1
        )
        cbs = [
            sorted(
                (code, [dims[p] for p in sorted(dims)])
                for (sub, code), dims in by.items()
                if sub == s
            )
            for s in range(n_sub)
        ]
    return coarse, cbs


def ivfpq_refined_encode(
    corpus: DataFrame,
    coarse: list[tuple[int, list[int]]],
    cbs: list[list[tuple[int, list[int]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQT_N_SUB,
    dim: int = DIM,
    pts: DataFrame | None = None,
) -> DataFrame:
    """The INDEX-BUILD half for the trained pipeline: one zero-shuffle
    narrow projection of the corpus to ``(neighbor_id, cid,
    code_0..code_{n_sub-1})`` — runs once at write time, stored
    ``partitionBy(cid)`` (the ``ivfpq_encode`` deployment shape; the
    split-vs-composed parity through a real parquet round trip is
    pinned by tests/test_llm_ops.py). ``pts`` (r14): a caller-cached
    ``(pid, qv)`` quantized projection — the composed pipeline shares
    the training's cache instead of re-scanning and re-quantizing the
    raw corpus for the identical values."""
    sub_dim = dim // n_sub
    if pts is None:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), _quantized(vec_col).alias("qv")
        )
    else:
        c = pts.select(F.col("pid").alias("neighbor_id"), "qv")
    # cid is wrapped in coalesce(expr, -1) to make the join key
    # PROVABLY non-null: the cid equi-join otherwise infers
    # isnotnull(cid) and pushdown inlines the whole derived
    # coarse-assignment tree into a scan-side Filter — the corpus would
    # evaluate the assignment TWICE per row (the plan-audit class). The
    # -1 arm is unreachable (the codebook is non-empty by construction,
    # so array_min never returns null); NullPropagation folds the
    # inferred isnotnull away entirely.
    return c.selectExpr(
        "neighbor_id",
        f"coalesce({_sub_code_sql(coarse, 0, dim)}, -1) AS cid",
        *[f"{_sub_code_sql(cbs[s], s, sub_dim)} AS code_{s}" for s in range(n_sub)],
    )


def ivfpq_refined_search(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list[tuple[int, list[int]]],
    cbs: list[list[tuple[int, list[int]]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = PQT_NPROBE,
    n_sub: int = PQT_N_SUB,
    shortlist: int = PQT_SHORTLIST,
    dim: int = DIM,
) -> DataFrame:
    """The QUERY half: probe the trained coarse lists, ADC-shortlist
    from stored codes alone, exact-cosine re-rank of only the
    shortlist (``corpus`` is touched just for the ≤ queries×shortlist
    embedding fetch — a broadcast point-lookup join)."""
    from .similarity import _rank_topk, _safe_cosine
    from ..functions.vectors import dot_unrolled

    sub_dim = dim // n_sub
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _quantized(vec_col).alias("qv"),
    )
    # explode_outer + explicit null filter, NOT plain explode: from
    # explode, InferFiltersFromGenerate would infer size(...) > 0 over
    # the DERIVED probe expression and pushdown would duplicate the
    # whole sort/slice tree into a filter (the map_dimensions_long_form
    # class, enforced suite-wide by the r12 plan audit). The probe
    # array is never empty (the codebook is non-empty by construction),
    # so the null row cannot occur; the filter pins the semantics.
    probed = q.selectExpr(
        "query_id",
        "qv",
        f"explode_outer({_coarse_probe_sql(coarse, dim, nprobe)}) AS cid",
    ).filter(F.col("cid").isNotNull())

    def lut_sql(s: int) -> str:
        sub = f"slice(qv, {s * sub_dim + 1}, {sub_dim})"
        return (
            f"transform({_sub_cb_literal_sql(cbs[s])}, "
            f"e -> {_sq_dist_sql(sub, 'e.cv')})"
        )

    probed = probed.selectExpr(
        "query_id", "cid", *[f"{lut_sql(s)} AS lut_{s}" for s in range(n_sub)]
    )

    # per-subspace code→LUT-slot translation, same contiguity rule +
    # loud NULL guard as ivfpq_adc_search (an emptied trained codeword
    # leaves a gap, which switches that subspace to the literal map —
    # see _adc_sum_sql)
    adc = F.expr(
        _adc_sum_sql([[int(code) for code, _w in cbs[s]] for s in range(n_sub)])
    )
    adc = F.when(
        adc.isNull(),
        F.raise_error(
            F.lit(
                "ivfpq_refined_topk: NULL ADC distance — encoded codes do "
                "not match the trained codebooks (stale index); re-encode"
            )
        ),
    ).otherwise(adc)

    scored = (
        encoded.join(F.broadcast(probed), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    wsl = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("rn", F.row_number().over(wsl))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )

    qv_side = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qdv")
        )
        .withColumn("qn", norm_unrolled("qdv", dim))
    )
    cand = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", norm_unrolled("cv", dim))
    )
    refined = (
        cand.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv_side), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _safe_cosine(dot_unrolled("qdv", "cv", dim), F.col("qn"), F.col("cn")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return _rank_topk(refined, k)


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
    n_sub: int = PQ_N_SUB,
    dim: int = DIM,
) -> DataFrame:
    """Top-k by ADC distance (ascending — PQ distances approximate
    squared L2, smaller is closer), ties to the smaller neighbor id.

    Output: (query_id, neighbor_id, adc_dist BIGINT, rk INT). Exact by
    construction given the index: adc_dist is an integer sum of
    integer LUT entries, so the oracle hash-matches bit-for-bit.

    This self-contained form composes the two halves in one plan
    (index build + search) so the catalog query is oracle-checkable
    without stored state. Measured honestly (SCALE.md): encoding
    dominates at query time, so the production deployment is
    ``ivfpq_encode`` once at write → store ``partitionBy(cid)`` →
    ``ivfpq_adc_search`` per query batch against the stored codes.
    """
    cents = _collect_centroids(ivf_centroids(corpus, id_col, vec_col))
    codebook = _collect_pq_codebook(corpus, id_col, vec_col)
    encoded = ivfpq_encode(corpus, cents, codebook, id_col, vec_col, n_sub, dim)
    return ivfpq_adc_search(
        encoded, queries, cents, codebook, k, id_col, vec_col, nprobe, n_sub, dim
    )
