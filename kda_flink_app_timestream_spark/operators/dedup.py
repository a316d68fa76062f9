"""Deduplication operators for LLM training-data pipelines
(driver-mandated surface, BASELINE.json:6): exact, MinHash+LSH, SimHash,
exact n-gram Jaccard.

100 TB design notes:

- Signatures (minhash/simhash/fingerprints) are pure per-row
  expressions — no shuffle, no UDF, embarrassingly parallel.
- Candidate generation NEVER does an all-pairs cross join. MinHash uses
  LSH banding (shuffle on band key → pairs only within a bucket);
  exact Jaccard uses an inverted shingle index (shuffle on shingle →
  pairs only for docs sharing ≥1 shingle).
- Hot shingles/bands (boilerplate text) are the skew risk: AQE skew-join
  handles moderate skew; pathological shingles are STOP-LISTED — one
  document-frequency agg filters shingles above ``max_doc_freq`` out of
  the inverted index before the self-join (exact_jaccard_pairs), and
  ``lsh_candidate_pairs`` takes the same cap for band buckets. Scores
  stay exact: candidates come from the filtered index, but |A∩B|/|A∪B|
  is computed on the FULL shingle sets of each surviving pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import hashlib

from ..functions import sql_ident
from ..functions.text import portable_hash64, tokens, word_shingles
from ..functions.exact import floor_round
from ..session import defer_release, release_storage
from ..sources.batch import scatter

NUM_MINHASHES = 8
NUM_BANDS = 4  # rows-per-band = NUM_MINHASHES // NUM_BANDS = 2
SIMHASH_BITS = 16

# Universal-hash family for minhash permutations: h_s(x) = (A_s·b(x) + B_s)
# mod P over ONE md5-derived base hash b(x) — 8 permutations cost 8 cheap
# integer ops per shingle instead of 8 md5s. P is Mersenne-31 so A·b + B
# stays under 2^62 (no overflow). Coefficients are md5-derived constants,
# identical in the generated DuckDB oracle.
MINHASH_PRIME = 2_147_483_647


def _coeff(tag: str, s: int, lo: int) -> int:
    h = int(hashlib.md5(f"mh-{tag}-{s}".encode()).hexdigest()[:15], 16)
    return h % (MINHASH_PRIME - lo) + lo


def minhash_coeffs(num_hashes: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """(A, B) coefficient vectors for any permutation count — the first
    NUM_MINHASHES entries are the oracle-matched defaults."""
    return (
        tuple(_coeff("a", s, 1) for s in range(num_hashes)),
        tuple(_coeff("b", s, 0) for s in range(num_hashes)),
    )


MINHASH_A, MINHASH_B = minhash_coeffs(NUM_MINHASHES)


def _scatter_batch(df: DataFrame) -> DataFrame:
    """``scatter`` for the signature operators' inputs. The streaming
    bypass this wrapper used to carry (BACKLOG r6 #7) moved into
    ``scatter`` itself in r8 — every call site now gets it, not just the
    dedup family; the name stays so the operators read as explicitly
    batch-scatter-then-hash."""
    return scatter(df)


def band_structs_sql(
    sig_col: str,
    num_bands: int = NUM_BANDS,
    rows_per_band: int | None = None,
    band_field: str = "band_idx",
    key_field: str = "band_key",
) -> str:
    """The LSH band layout as ONE shared expression (BACKLOG r6 #5),
    rendered as SQL text: an array of ``(band_field, key_field)``
    structs, band key = ':'-joined decimal renderings of the band's
    signature slice — used by ``lsh_candidate_pairs`` and (via the
    ``band_structs`` Column wrapper) the streaming band-dedup query,
    and kept in lockstep with the generated DuckDB twin
    (plans/dedup.py:minhash_sig_ctes). SQL-string form r15: the
    Column-API build cost ~80 py4j round trips per call (~0.16 s) —
    the batch callers assemble whole stages as one selectExpr now
    (guide §1/§7.3 driver-side planning). ``sig_col`` is a column
    name, quoted as one identifier."""
    if rows_per_band is None:
        rows_per_band = NUM_MINHASHES // num_bands
    sig = sql_ident(sig_col)
    structs = ", ".join(
        f"named_struct('{band_field}', {b}, '{key_field}', concat_ws(':', "
        + ", ".join(
            f"CAST({sig}[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(num_bands)
    )
    return f"array({structs})"


def band_structs(
    sig_col: Column,
    num_bands: int = NUM_BANDS,
    rows_per_band: int | None = None,
    band_field: str = "band_idx",
    key_field: str = "band_key",
) -> Column:
    """Column wrapper over ``band_structs_sql`` for callers holding a
    Column (the streaming band-dedup query). The layout lives in the
    _sql body; this builds the identical expression through the Column
    API (``sig_col[i]`` ≡ ``sig[i]`` extraction, ``F.lit(b)`` ≡ the
    int literal)."""
    if rows_per_band is None:
        rows_per_band = NUM_MINHASHES // num_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias(band_field),
                F.concat_ws(
                    ":",
                    *[
                        sig_col[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias(key_field),
            )
            for b in range(num_bands)
        ]
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: ``sig[s] = min over shingles of
    (A_s·b(shingle) + B_s) mod P`` — row-local, one md5 per shingle.

    Three projection steps (tokens → base hashes → signature) so each
    stage's array is materialized once: an inlined expression tree would
    re-split the text per shingle position (O(n²)/doc) and re-md5 per
    permutation."""
    toked = _scatter_batch(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    )
    sh = word_shingles(F.col("toks"), shingle_n)
    base = F.transform(sh, lambda x: portable_hash64(x, "mh") % MINHASH_PRIME)
    with_base = toked.select(F.col(id_col), base.alias("base"))
    coeff_a, coeff_b = minhash_coeffs(num_hashes)
    # the permutation array as ONE selectExpr string (r15): the Column
    # form built num_hashes array_min(transform(...)) trees through
    # py4j (~200 round trips for a 32-wide signature, ~0.4 s of pure
    # plan construction); the SQL text parses JVM-side in ~1 ms and
    # yields the same expressions — h·a + b uses bigint literals where
    # the Column form used int literals, which promote identically
    # under the bigint base hash
    sig_sql = "array(" + ", ".join(
        f"array_min(transform(base, h -> (h * {coeff_a[s]}L + {coeff_b[s]}L) "
        f"% {MINHASH_PRIME}L))"
        for s in range(num_hashes)
    ) + ")"
    return with_base.selectExpr(id_col, f"{sig_sql} AS sig")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = NUM_BANDS,
    num_hashes: int = NUM_MINHASHES,
    max_band_freq: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into bands, bucket by band
    value, emit distinct intra-bucket pairs. Shuffles on (band_idx,
    band_key) — never all-pairs.

    ``num_hashes`` must match the signature layout the caller built
    (``minhash_signature(..., num_hashes=...)``); a runtime guard fails
    fast on width mismatch instead of silently banding a wrong layout.
    ``max_band_freq`` (optional) stop-lists band buckets shared by more
    than that many docs before the self-join — the skew escape hatch for
    boilerplate-heavy corpora where one bucket would go quadratic.
    """
    if num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by num_bands ({num_bands})"
        )
    rows_per_band = num_hashes // num_bands
    guarded = sig_df.withColumn(
        "__sig_ok",
        F.assert_true(
            F.size("sig") == num_hashes,
            F.concat(
                F.lit(f"lsh_candidate_pairs: expected {num_hashes}-wide sig, got "),
                F.size("sig").cast("string"),
            ),
        ),
    ).drop("__sig_ok")
    exploded = guarded.selectExpr(
        id_col,
        f"explode({band_structs_sql('sig', num_bands, rows_per_band)}) AS band",
    ).select(id_col, "band.band_idx", "band.band_key")
    if max_band_freq is not None:
        hot = (
            exploded.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("__bf"))
            .filter(F.col("__bf") > max_band_freq)
            .select("band_idx", "band_key")
        )
        exploded = exploded.join(
            F.broadcast(hot), ["band_idx", "band_key"], "left_anti"
        )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_est_sql(
    num_hashes: int, a: str = "sig_a", b: str = "sig_b"
) -> str:
    """Estimated Jaccard from two signature columns, as SQL text: the
    fraction of agreeing positions, rounded to 4 places — THE single
    definition of the estimate (ADVICE r14: ``dedup_minhash_tuning``
    used to inline a duplicate of this body; both now render from
    here, and the generated DuckDB oracle stays the independent
    twin). ``{num_hashes}D`` is a double literal — a bare ``8.0``
    would parse as DECIMAL and change the division's result type."""
    return (
        f"round(size(filter(zip_with({sql_ident(a)}, {sql_ident(b)}, "
        f"(x, y) -> x = y), m -> m)) "
        f"/ {float(num_hashes)}D, 4)"
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    num_hashes: int = NUM_MINHASHES,
    num_bands: int = NUM_BANDS,
    max_band_freq: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with estimated Jaccard
    (fraction of agreeing signature positions) ≥ threshold.

    ``num_hashes``/``num_bands`` default to the oracle-matched test
    values (8/4); production corpora want e.g. 128/16 (see
    plans/dedup.py for the session-config plumbing).

    Signatures are cached: they feed the band join AND both sides of the
    estimate join — without the cache the shingle+hash expression would
    re-evaluate three times."""
    sig = minhash_signature(df, id_col, text_col, num_hashes=num_hashes).cache()
    defer_release(sig)  # the returned pairs frame still reads it
    pairs = lsh_candidate_pairs(
        sig, id_col, num_bands=num_bands, num_hashes=num_hashes,
        max_band_freq=max_band_freq,
    )
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a", "doc_b", f"{minhash_est_sql(num_hashes)} AS est_jaccard"
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash (``bits`` wide): majority vote per bit over
    distinct-token hashes. Pure expressions, shuffle-free."""
    # two-step projection: distinct tokens materialized, then the hash
    # array — md5 per token, not per (token × bit), no re-tokenization
    toked = _scatter_batch(df).select(
        F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("toks")
    )
    hashes = F.transform(F.col("toks"), lambda t: portable_hash64(t, "simhash"))
    with_hashes = toked.select(F.col(id_col), hashes.alias("h"))

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            F.col("h"),
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    value = None
    for i in range(bits):
        contrib = F.when(bit_sum(i) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        value = contrib if value is None else value + contrib
    return with_hashes.select(F.col(id_col), value.cast("long").alias("simhash"))


MAX_SHINGLE_DOC_FREQ = 128


def shingle_overlap_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_doc_freq: int | None = MAX_SHINGLE_DOC_FREQ,
) -> DataFrame:
    """Shared machinery for the exact set-similarity family: candidate
    pairs from the inverted shingle index with their EXACT overlap
    counts — ``(doc_a, doc_b, shared, n_a, n_b)`` where ``shared``
    includes the hot-shingle correction and ``n_*`` are full distinct
    shingle-set sizes. ``exact_jaccard_pairs`` and
    ``exact_containment_pairs`` are thin scorers over this frame; the
    skew/OOM analysis in ``exact_jaccard_pairs``'s docstring applies
    verbatim (this is that operator's body, factored)."""
    if max_doc_freq is None:
        raise ValueError(
            "shingle_overlap_counts requires a document-frequency bound: "
            "posting lists are collect_list arrays per shingle, and an "
            "unbounded hot shingle materializes one corpus-sized array "
            "on a single executor. Pass max_doc_freq (default "
            f"{MAX_SHINGLE_DOC_FREQ})."
        )
    toked = _scatter_batch(df).select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    hashed = F.transform(
        word_shingles(F.col("toks"), shingle_n),
        lambda x: portable_hash64(x, "jac"),
    )
    # cache the COMPACT per-doc hash arrays (one row per doc), not the
    # exploded index: every downstream consumer derives narrowly from
    # this, and set size is a free F.size() instead of a groupBy(id)
    # shuffle over the whole index
    docs = toked.select(F.col(id_col), hashed.alias("hs")).cache()
    defer_release(docs)
    sizes = docs.select(F.col(id_col), F.size("hs").alias("n_shingles"))
    sh = docs.select(F.col(id_col), F.explode("hs").alias("shingle"))

    # count-only frequency agg: map-side combinable, never builds a
    # posting list for a hot shingle (the OOM vector at 100 TB).
    # Cached — it feeds two broadcast joins and is tiny by
    # construction (only pathological shingles)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle")
        .cache()
    )
    defer_release(hot)
    sh_cold = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # per-doc HOT shingles (short arrays, empty for most docs) let
    # the score stay exact without joining the full shingle sets:
    # shared = cold_shared + |hot_a ∩ hot_b|
    hot_docs = (
        sh.join(F.broadcast(hot), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("hot_set"))
    )

    # posting lists are bounded at max_doc_freq entries (hot shingles
    # are already gone), so collect_list is skew-safe by construction
    posting = sh_cold.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    shared = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    scored = shared.join(na, "doc_a").join(nb, "doc_b")
    ha = hot_docs.select(F.col(id_col).alias("doc_a"), F.col("hot_set").alias("hot_a"))
    hb = hot_docs.select(F.col(id_col).alias("doc_b"), F.col("hot_set").alias("hot_b"))
    scored = scored.join(ha, "doc_a", "left").join(hb, "doc_b", "left")
    shared_total = F.col("shared") + F.coalesce(
        F.size(F.array_intersect("hot_a", "hot_b")), F.lit(0)
    )
    return scored.select(
        "doc_a", "doc_b", shared_total.alias("shared"), "n_a", "n_b"
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    shingle_n: int = 3,
    max_doc_freq: int | None = MAX_SHINGLE_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted shingle index: pairs sharing ≥1
    *non-stop-listed* shingle get ``|A∩B| / |A∪B|``; others are never
    materialized.

    Skew control: shingles appearing in more than ``max_doc_freq`` docs
    (boilerplate — a quadratic bomb in candidate generation: one shingle
    in f docs implies f² candidate rows) are stop-listed by one
    count-only document-frequency aggregate (map-side combinable, never
    materializes a posting list for a hot shingle) + broadcast
    anti-join. Scores stay exact because each surviving candidate's
    shared count is corrected with the per-doc HOT shingle sets — only
    pairs whose every common shingle is stop-listed are lost, and those
    are boilerplate-only overlaps *provided the corpus is
    exact-deduplicated first*: heavy exact duplication inflates every
    shingle's df by the copy count, pushing legitimately-rare shingles
    over the cap and silently dropping identical-copy cliques (measured
    at 100× replication — SCALE.md r4: 1.02 M of ~24.7 M true pairs
    survive uncollapsed; all survive after collapse). Run
    ``dedup_exact_summary``'s fingerprint collapse before this
    operator. The bound is
    REQUIRED: posting-list candidate generation collects all doc ids
    per shingle into one array, so an unbounded hot shingle would
    materialize a corpus-sized array on a single executor (an OOM
    vector the old self-join shape didn't have) — ``max_doc_freq=None``
    raises rather than run that plan.

    Candidate pairs come from exploding per-shingle POSTING LISTS
    (groupBy shingle → sorted doc-id array ≤ max_doc_freq → ordered
    2-combinations as a narrow projection), not from joining the index
    with itself: one shuffle of the index replaces the self-join's two
    shuffle sides, and the pair explosion is codegen-stage work. (This
    un-did a 1.9× regression the r2 stop-list introduced.)

    The index carries the 60-bit portable hash of the shingle, not the
    string — an 8-byte shuffle key instead of ~20 bytes, and a cheaper
    group compare. (Distinct-ness is preserved: the hash is applied after
    array_distinct, and 60-bit collisions within a doc's ~10³ shingles
    are negligible — and identical in the oracle, which hashes the same
    way.)"""
    counts = shingle_overlap_counts(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        max_doc_freq=max_doc_freq,
    )
    # explicit integer half-up rounding (functions/exact.py): the exact
    # rational shared/union can end in 5 one digit past the scale, where
    # float round() diverges across engines
    union_sz = F.col("n_a") + F.col("n_b") - F.col("shared")
    jac = floor_round(F.col("shared"), union_sz, out_pow=4) / 10000.0
    return counts.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def exact_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    max_doc_freq: int | None = MAX_SHINGLE_DOC_FREQ,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: max containment
    ``|A∩B| / min(|A|, |B|)`` over the same inverted shingle index as
    ``exact_jaccard_pairs`` (Broder's containment measure from "On the
    resemblance and containment of documents", 1997 — the public
    grounding for shingle-set similarity).

    Catches the doc-inside-doc duplication Jaccard structurally misses:
    a 100-shingle document fully quoted inside a 2000-shingle one has
    containment 1.0 but Jaccard ~0.05 — far below any useful Jaccard
    threshold, yet exactly the redundancy (quote-inclusion, concatenated
    shards, boilerplate-wrapped reposts) a pretraining corpus wants
    flagged. Same scale properties as the Jaccard scorer: posting-list
    candidates, stop-listed hot shingles with exact correction, no
    all-pairs stage; only the final arithmetic differs.
    """
    counts = shingle_overlap_counts(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        max_doc_freq=max_doc_freq,
    )
    cont = floor_round(F.col("shared"), F.least("n_a", "n_b"), out_pow=4) / 10000.0
    return counts.select("doc_a", "doc_b", cont.alias("containment")).filter(
        F.col("containment") >= threshold
    )


def _edge_set_equal(a: DataFrame, n_a: int, b: DataFrame, n_b: int) -> bool:
    """Exact set equality of two canonical (hi, lo) edge frames with
    KNOWN cardinalities: |a| == |b| and |distinct(a ∪ b)| == |a|. The
    counts are threaded from the caller's round loop (each frame is
    counted once when checkpointed, not re-counted per comparison), so
    the check costs one distinct-count over the (shrinking) union —
    no driver-side data transfer."""
    if n_a != n_b:
        return False
    return a.union(b).distinct().count() == n_a


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list →
    ``(node, cluster_rep)`` with rep = min node id in the component.

    Two-phase **large-star / small-star** contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014 — the
    published O(log n)-round algorithm), replacing min-label propagation
    whose round count is O(component diameter) (VERDICT r4: a chained
    near-dup path graph degrades it; tests/test_scale_ops.py pins a path
    where propagation capped at 5 rounds fails and this converges):

    - **large-star** (per node v): point every neighbor u > v at
      m(v) = min(N(v) ∪ {v}). Expressed relationally: one groupBy(v)
      min-aggregate + one join of the directed neighbor list with the
      per-node minimum — never a per-node neighbor-array collect, so a
      high-degree hub costs deg(v) join rows, not one executor-resident
      array (the skew posture matches the band/posting-list operators).
    - **small-star** (per edge directed high→low): point each low
      endpoint and the high node at min(N⁻(h) ∪ {h}).

    Each round squares star depths, so a path of length L resolves in
    ~log₂ L alternations; convergence = the canonical edge set reaches
    a fixed point (exact set-equality check per round, distributed).
    The final graph is a star per component rooted at its minimum node.

    Every ROUND's edge frame is eagerly ``localCheckpoint``-ed: each
    round references the prior frame ~6× (two stars × both directions +
    the equality check), so an uncut lineage grows exponentially and
    OOMs the DRIVER in Catalyst analysis by round ~4 — caching
    materializes data but not the logical plan. The INITIAL edge frame
    is MATERIALIZED via cache()+count() — ``localCheckpoint`` compiles
    through the RDD path, which skips AQE, and running the whole
    upstream pair pipeline non-adaptively cost 250 s vs 27 s on the 10×
    inverted-index fixture (measured r5) — then immediately re-rooted
    as a checkpoint of the (now-cheap) cached read: rounds that plan
    against the InMemoryRelation itself inherit its pinned output
    partitioning, which blocks AQE broadcast/coalesce above it (round 1
    measured 3.3 s over the cache vs 0.46 s over the re-rooted
    ExistingRDD at sf0.1, r13). Rounds then build shallow plans on the
    checkpointed base and checkpoint their own (tiny) outputs. On a
    multi-executor cluster with lossy nodes, swap ``localCheckpoint``
    for ``checkpoint()`` against a reliable store; the round structure
    is unchanged.

    Nodes whose only edges are self-loops are dropped (no real edge —
    identical to how pair generators never emit self-pairs); callers
    already default absent nodes to singleton reps via left-join +
    coalesce.

    Used by dedup to resolve pairwise matches into keep/drop groups:
    keep the representative, drop the rest.
    """
    e0 = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("h"),
            F.least(F.col(src), F.col(dst)).alias("l"),
        )
        .filter(F.col("h") != F.col("l"))
        .distinct()
        .cache()
    )
    n_e = e0.count()  # materialize through the adaptive SQL path, not .rdd
    # re-root the rounds on an ExistingRDD leaf: a plan that references
    # CACHED data pins the cache's output partitioning, so AQE cannot
    # re-optimize the stages above it (no runtime broadcast conversion,
    # no partition coalescing) — round 1 over the InMemoryRelation ran
    # every exchange at the static shuffle width, measured 3.3 s vs
    # 0.46 s over a checkpointed base at sf0.1 (r13). The checkpoint
    # itself is one cheap cache read (the edge list is duplicate-sized
    # and already materialized); e0's SQL-path cache+count stays — it
    # is what keeps the UPSTREAM pair pipeline on the adaptive path
    # (the r5 250 s-vs-27 s lesson).
    e = e0.localCheckpoint(eager=True)
    e0.unpersist()
    converged = False
    # each round's localCheckpoint pins an RDD in executor storage for
    # the session's lifetime unless released (ADVICE r5): once round
    # N+1's frame is materialized (its count() below), round N's frame
    # has no remaining consumer — unpersist it then. Only the FINAL
    # round's frame stays alive past the loop: ``rep`` is derived from
    # it lazily and a localCheckpoint'd frame cannot be recomputed after
    # unpersist (its lineage is cut by design). The re-rooted initial
    # frame is round 0's checkpoint — round 1's completion releases it.
    prev_ckpt: DataFrame | None = e
    for _ in range(max_iter):
        # ---- large-star ------------------------------------------------
        nbr = e.select(F.col("l").alias("v"), F.col("h").alias("u")).union(
            e.select(F.col("h").alias("v"), F.col("l").alias("u"))
        )
        m_of = nbr.groupBy("v").agg(F.min("u").alias("mn")).select(
            "v", F.least(F.col("mn"), F.col("v")).alias("m")
        )
        large = (
            nbr.filter(F.col("u") > F.col("v"))
            .join(m_of, "v")
            .select(F.col("u").alias("h"), F.col("m").alias("l"))
            .filter(F.col("h") != F.col("l"))
            .distinct()
        )
        # ---- small-star ------------------------------------------------
        m_low = large.groupBy("h").agg(F.min("l").alias("mn")).select(
            "h", F.least(F.col("mn"), F.col("h")).alias("m")
        )
        with_m = large.join(m_low, "h")
        # LAZY checkpoint + count = ONE materialization job per round
        # (r14): eager=True runs its own internal action and the count
        # below was a second job over the just-persisted partitions —
        # the count is the round's required action anyway, so let it
        # trigger the checkpoint. Post-materialization semantics are
        # identical (lineage cut, partitions pinned until released).
        small = (
            with_m.select(F.col("l").alias("h"), F.col("m").alias("l"))
            .union(with_m.select(F.col("h"), F.col("m").alias("l")))
            .filter(F.col("h") != F.col("l"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_small = small.count()
        done = _edge_set_equal(small, n_small, e, n_e)
        if prev_ckpt is not None:
            release_storage(prev_ckpt)
        prev_ckpt = small
        e, n_e = small, n_small
        if done:
            converged = True
            break
    if not converged:
        # silently returning partial labels would make cluster
        # representatives disagree with the true transitive closure.
        # (release the last pinned frame first: a driver that catches
        # and retries must not accumulate a pinned edge set per attempt)
        if prev_ckpt is not None:
            release_storage(prev_ckpt)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds — max_iter is set far above the "
            "O(log n) bound, so this indicates a logic regression, not data"
        )
    # fixed point = per-component stars rooted at the minimum node: every
    # non-root appears exactly once as h (child -> root) and never as a
    # parent, every root only as l — so the rep map is the edge list
    # itself plus one (root, root) row per component. Derived purely from
    # the final checkpointed frame: nothing upstream can recompute.
    rep = (
        e.select(F.col("h").alias("node"), F.col("l").alias("cluster_rep"))
        .union(e.select(F.col("l").alias("node"), F.col("l").alias("cluster_rep")))
        .distinct()
    )
    # the final round's checkpointed frame must outlive this function
    # (rep reads it lazily and its lineage is cut) — release it once
    # the consuming query's result has been collected
    defer_release(e)
    return rep


def connected_components_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation CC — the O(component-diameter)-round
    predecessor of ``connected_components``, retained as an independent
    implementation for cross-checking the star contraction (and as the
    measured counter-example: on a long path graph it exhausts
    ``max_iter`` where large-star/small-star converges in O(log n)).
    Same interface and output contract.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .cache()
    )
    rep = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("rep", F.col("node"))
        .cache()
    )
    changed = 0
    cached_step = rep
    for _ in range(max_iter):
        neighbor_min = (
            und.join(rep, und.b == rep.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("rep").alias("nmin"))
        )
        # carry the previous label in the SAME frame so the convergence
        # check is a filter-count over it — not a second join with the
        # old frame (one shuffle per round saved)
        stepped = (
            rep.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("rep").alias("__old"),
                F.least(F.col("rep"), F.coalesce("nmin", F.col("rep"))).alias("rep"),
            )
            .cache()
        )
        changed = stepped.filter(F.col("rep") != F.col("__old")).count()
        cached_step.unpersist()  # superseded round frame — don't pile up cache
        cached_step = stepped
        rep = stepped.select("node", "rep")
        if changed == 0:
            break
    und.unpersist()
    if changed != 0:
        cached_step.unpersist()
        # silently returning partial labels would make cluster
        # representatives disagree with the true transitive closure
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or switch "
            "to large-star/small-star for graphs with diameter > max_iter"
        )
    defer_release(cached_step)  # final round's cache — rep still reads it
    return rep.select(F.col("node"), F.col("rep").alias("cluster_rep"))
