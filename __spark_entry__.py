"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real catalog lives in ``kda_flink_app_timestream_spark.plans`` —
every operator registers a (PySpark callable, DuckDB oracle SQL) pair
there; this module just re-exports it in the driver's shape.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kda_flink_app_timestream_spark.plans import REGISTRY, load_all_plans

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the batch analog of the reference's whole pipeline
    (StreamingJob.java:112-186): events → 10 s tumbling event-time
    window × event_type → count/sum/avg.
    """
    load_all_plans()
    return REGISTRY["events_tumbling_agg"].fn(spark, SMOKE_SF_DIR)


# The driver scores only the FIRST ~50 dict entries each round, so dict
# order decides which queries get a fresh CORRECTNESS row. Rounds 1-2
# hand-curated this list, which under-rotated twice (r1 left 39 queries
# unscored; r2 left 19 and demoted every past-green permanently, so green
# regressions could never be re-detected — ADVICE r2). The ordering is
# now DERIVED from the committed CORRECTNESS_r{N}.json history:
#
#   tier 0 — never scored by any round (need their first row)
#   tier 1 — latest row invalid (err / row-count / schema / hash mismatch)
#            or rows-only while the query now registers a real oracle
#   tier 2 — implementation changed since the last green row
#            (_RESCORE_AFTER, maintained per round — the r2 lesson: a
#            "verified identical offline" claim is not a driver row)
#   tier 3 — green: oldest green round first, so every green query
#            rotates back through the window for re-verification
#
# Ties break on registry (definition) order for determinism.

# Queries whose implementation changed, keyed to the round the change
# lands in: the flag stays active until a driver row from that round or
# later exists, then self-expires (r3's set-based form could never flag
# a query changed in the same round as its last green row, and r3
# under-listed — ADVICE r3 #2: only the four ts queries were listed
# while the jaccard/components/vector-fold rewrites left seven consumers
# without a post-change row).
# The round whose scoring window is being built NOW. Bump this at the
# START of each round (it gates flag dormancy below). It is a constant,
# not inferred from the committed CORRECTNESS files, because round 6
# proved inference wrong: r6's scoring never ran (no CORRECTNESS_r06
# exists — VERDICT.md stayed the round-5 judge), so "latest committed
# round + 1" under-counted and would have parked the keyed-7 flags
# forever.
_CURRENT_ROUND = 16

_RESCORE_AFTER = {
    # r3 operator rewrites whose consumers got NO r3 driver row
    # (posting-list jaccard, connected-components join drop, minhash
    # rework, dot-fold revert; dedup_ngram_jaccard_pairs is in the r4
    # block below, and dedup_cluster_representatives in the r5 block,
    # each superseding its r3 flag):
    "dedup_minhash_pairs": 3,
    "dedup_embedding_pairs": 3,
    "sim_lsh_topk": 3,
    "sim_bruteforce_topk": 3,
    "sim_ivf_topk": 3,
    # r4 changes:
    #   asof tolerance now compared in exact micros (operators/relational.py)
    "asof_join_forward_tolerance": 4,
    #   integer-quantized projection oracle (plans/similarity.py)
    "sim_random_projection": 4,
    #   (the r4 staging-rewrite flags for the stream_* family are
    #   superseded by the r5 block below — same names, keyed 5)
    #   k-means assignment vectorized path + cached update rounds
    #   (operators/clustering.py — results proven identical, rescore anyway)
    "sim_kmeans_clusters": 4,
    "dedup_semantic_prune": 4,
    "dedup_semantic_prune_scaled": 4,
    #   jaccard body factored into shingle_overlap_counts (operators/
    #   dedup.py) — every consumer of the shared core needs a post-
    #   refactor row even though local parity passed
    "dedup_ngram_jaccard_pairs": 4,
    "dedup_collapse_then_jaccard": 4,
    # r5 changes:
    #   append-finalization oracles aligned to Spark's measured
    #   window.end <= watermark tie direction (ADVICE r4; pinned by
    #   tests/test_streaming.py::test_append_finalization_tie_*)
    "stream_tumbling_append_finalized": 5,
    "stream_session_append_finalized": 5,
    #   watermark delay now derived from the staged data's actual span
    "stream_dedup_within_watermark": 5,
    #   connected components rewritten: large-star/small-star contraction
    #   (O(log n) rounds) replaces min-label propagation as the
    #   production CC — every CC consumer needs a post-change row
    "dedup_cluster_representatives": 5,
    "dedup_collapse_then_clusters": 5,
    #   stream staging rewritten to build-then-atomic-rename (ADVICE r4
    #   concurrency): staged CONTENT is unchanged, but per the r2 lesson
    #   every query whose implementation file changed gets a post-change
    #   row (the window fits all of these plus the 26 r1-stale greens)
    "stream_tumbling_events": 5,
    "stream_sliding_events": 5,
    "stream_session_windows": 5,
    "stream_interval_join": 5,
    "stream_dedup_minhash_bands": 5,
    "stream_dedup_keys": 5,
    "stream_stateful_running_counts": 5,
    "stream_static_enrichment_join": 5,
    "stream_model_inference": 5,
    "stream_leftouter_interval_join": 5,
    # r6 changes (storage-release discipline + poller rework): every
    # consumer of a file whose non-comment source changed gets a
    # post-change driver row, per the r2 lesson — local parity runs
    # are not driver rows.
    #   operators/dedup.py: deferred-release of the minhash signature /
    #   shingle-index caches, per-round checkpoint release + final-frame
    #   deferral in both CC implementations; plans/dedup.py: deferred
    #   caches + the parametrized minhash oracle generator
    "dedup_minhash_pairs": 6,
    "dedup_minhash_eval": 6,
    "dedup_ngram_jaccard_pairs": 6,
    "dedup_collapse_then_jaccard": 6,
    "dedup_cluster_representatives": 6,
    "dedup_collapse_then_clusters": 6,
    "dedup_lineage_recursive": 6,
    "dedup_embedding_pairs": 6,
    #   operators/clustering.py + plans/clustering.py: deferred-release
    #   of the quantized-corpus / coarse-assignment / seed caches
    "sim_kmeans_clusters": 6,
    "dedup_semantic_prune": 6,
    "dedup_semantic_prune_scaled": 6,
    "dedup_semantic_prune_twolevel": 6,
    #   streaming/kinesis_dev.py: _drain_shard extraction, adaptive
    #   reads, fixpoint shard admission, executor-parallel mode
    "kinesis_incremental_consume": 6,
    # r7 changes, landed LATE in r6 (after r6's window was already
    # exactly full — these flags are DORMANT for r6's scoring and
    # activate the moment CORRECTNESS_r06 exists; see _priority):
    #   operators/similarity.py + plans/similarity.py: shared zero-norm
    #   cosine guard (both engines), hyperplane components generated for
    #   the caller's dim, zero-shuffle literal-codebook IVF assignment,
    #   dead IVF distinct removed, hoisted re-rank norms, shared
    #   _rank_topk, PQ codebook filter-first. Consumers of the SAME
    #   files already keyed 6 (dedup_embedding_pairs, the clustering
    #   four) are in r6's window and get their post-change row there.
    "sim_bruteforce_topk": 7,
    "sim_lsh_topk": 7,
    "sim_ivf_topk": 7,
    "sim_ann_recall": 7,
    "sim_vector_normalize_quantize": 7,
    "sim_pq_codes": 7,
    "sim_random_projection": 7,
    "sim_dim_truncation_recall": 7,
    "sim_cluster_diversity": 7,
    #   plans/dedup.py: guarded _EMBED_COSINE twin (same file as the
    #   keyed-6 dedup consumers; these three were not keyed 6)
    "dedup_exact_summary": 7,
    "dedup_simhash": 7,
    "dedup_ngram_containment": 7,
    #   plans/streaming_queries.py (BACKLOG r6 #1-8): rename-aside stage
    #   recovery, memory-sink release hook, named sentinel, degenerate-
    #   data guards, shared band_structs, cached static dim, streaming-
    #   safe scatter, folded _table_stream — the scaffolds are SHARED by
    #   every stream query, so all 13 rescore (operators/dedup.py's
    #   band/scatter edits ride along: its batch consumers are keyed 6
    #   and in r6's window)
    "stream_tumbling_events": 7,
    "stream_sliding_events": 7,
    "stream_session_windows": 7,
    "stream_interval_join": 7,
    "stream_dedup_minhash_bands": 7,
    "stream_dedup_keys": 7,
    "stream_stateful_running_counts": 7,
    "stream_static_enrichment_join": 7,
    "stream_dedup_within_watermark": 7,
    "stream_leftouter_interval_join": 7,
    "stream_tumbling_append_finalized": 7,
    "stream_session_append_finalized": 7,
    "stream_model_inference": 7,
    #   plans/advanced.py: (ts, event_id) tie-break in the two
    #   sessionization islands windows. Scoped to these two queries —
    #   the edit is strictly local to their own bodies and oracle
    #   literals (no shared helper in the file changed), so the
    #   file-level blast radius does not apply. (plans/text.py's tfidf
    #   in-plan count is likewise local, and that query is in r6's
    #   window — its post-change row lands this round.)
    "batch_sessionization": 7,
    "batch_sessionization_sliced": 7,
    # Changes intended for "r8" that in fact landed BEFORE the driver's
    # r7 scoring ran (driver round numbering: r6 was skipped, so what
    # this ledger called r8 scored as CORRECTNESS_r07 — VERDICT r7's
    # round-numbering note). All three flags below were ACTIVE during
    # r7's window build (_CURRENT_ROUND was already 8 > 7 dormancy
    # check) and each query has a green post-change r7 row, so they are
    # keyed 7 to self-expire rather than burn three r8 slots:
    #   plans/udf.py: short-document guard — sequence() stop clamped so
    #   docs under one gram contribute zero rows instead of a runtime
    #   IllegalArgumentException (Spark throws on stop < start with a
    #   positive step; DuckDB's range just yields nothing)
    "udtf_char_ngrams": 7,
    #   operators/scale.py: salted_join's salt now hashes row content
    #   instead of monotonically_increasing_id (positional ids re-number
    #   under shuffle-retry recompute → rows can re-salt mid-recovery).
    "join_salted_skew": 7,
    #   operators/multimodal.py: decode_png's documented ValueError
    #   contract hardened (fuzz-pinned in tests/test_properties.py).
    "multimodal_image_decode": 7,
    # r8 changes (this round's window is being built now — ACTIVE):
    #   plans/udf.py: applyinpandas_zscore retagged test-config next to
    #   its new native twin (VERDICT r7 #2). Tags/docstring only —
    #   result-identical — but per the r2 lesson the tag line IS
    #   non-comment source, so it gets a post-change row:
    "applyinpandas_zscore": 8,
    #   plans/streaming_queries.py: stream_stateful_running_counts
    #   retagged test-config next to its new native twin (VERDICT r7
    #   #1); shared scaffolds untouched (additive new query only), so
    #   the other stream queries are NOT flagged:
    "stream_stateful_running_counts": 8,
    #   plans/advanced.py: approx_sketches retagged test-config next to
    #   the new sketch-only production query (VERDICT r7 #5):
    "approx_sketches": 8,
    #   plans/multimodal.py: staged-PNG cache key now folds in the
    #   decode dims + pixel-formula version (ADVICE r7) — the stage
    #   REBUILDS under a new key, so its one consumer re-scores:
    "multimodal_binaryfile_scan": 8,
    # r9 changes (this round's window is being built now — ACTIVE):
    #   streaming/kinesis_pysource.py rewritten (LATEST/AT_TIMESTAMP
    #   anchors, parent-before-child admission, expired-sequence
    #   fallback, the partitioned DataSourceStreamReader) and
    #   streaming/kinesis_fake.py gained the AT_TIMESTAMP iterator —
    #   every EXISTING consumer of either file gets a post-change row
    #   (the two new r9 queries are tier-0 and need no flag); the
    #   plans/reference.py produce-helper also grew event_min/
    #   create_stream params (its consumers are exactly these).
    #   (All four keys below are superseded by the r10 block — same
    #   names, keyed 10; kept for the ledger, later-wins applies.)
    "kinesis_pysource_consume": 9,
    "kinesis_pysource_batch_snapshot": 9,
    "kinesis_incremental_consume": 9,
    "kinesis_parallel_consume": 9,
    #   operators/layout.py: compact_files n_files now defaults to
    #   input bytes / target file size (VERDICT r8 #4) and
    #   vacuum_partitions explicitly handles the null hive partition
    #   (ADVICE r8) — call sites pass explicit values so results are
    #   provably identical, but per the r2 lesson every consumer of a
    #   changed implementation file gets a post-change driver row.
    #   (All four keys below are superseded by the r10 block — same
    #   names, keyed 10; kept for the ledger, later-wins applies.)
    "layout_partition_pruned_agg": 9,
    "layout_compaction_roundtrip": 9,
    "layout_stream_ingest_compact": 9,
    "layout_retention_vacuum": 9,
    # r10 changes (this round's window is being built now — ACTIVE):
    #   streaming/kinesis_pysource.py rewritten (VERDICT r9 #2 + ADVICE
    #   r9: the partitioned reader's latestOffset is now metadata-only —
    #   whole-second arrival-time boundaries instead of a driver-side
    #   full-payload bounds probe — and is stateless across restarts, so
    #   LATEST anchors are never re-resolved; the simple reader lost its
    #   probe()/collect plumbing): every registered consumer of the file
    #   gets a post-change driver row:
    "kinesis_pysource_consume": 10,
    "kinesis_pysource_batch_snapshot": 10,
    "kinesis_pysource_latest_resume": 10,
    "kinesis_pysource_partitioned_consume": 10,
    #   operators/layout.py: sized_n_files now URI-parses inputFiles()
    #   entries before stat'ing (ADVICE r9) — catalog call sites pass
    #   explicit n_files so results are provably identical, but per the
    #   r2 lesson every consumer of a changed implementation file gets a
    #   post-change driver row:
    "layout_partition_pruned_agg": 10,
    "layout_compaction_roundtrip": 10,
    "layout_stream_ingest_compact": 10,
    "layout_retention_vacuum": 10,
    #   plans/reference.py: harness-roundtrip tier tag added (VERDICT r9
    #   #4) — result-identical, but the tag tuple is non-comment source
    #   (the applyinpandas_zscore r8 precedent), so the one consumer not
    #   already keyed 10 gets a post-change row:
    "timestream_pysink_roundtrip": 10,
    # r11 changes (this round's window is being built now — ACTIVE):
    #   streaming/kinesis_pysource.py: latestOffset's HOLD path now
    #   waits for a natural-next-second held boundary to ELAPSE before
    #   returning it (the cornered r10 LATEST-restart flake — an
    #   availableNow lifecycle inside one wall second committed an
    #   unelapsed boundary and stranded same-second downtime arrivals);
    #   every registered consumer of the file gets a post-change row:
    "kinesis_pysource_consume": 11,
    "kinesis_pysource_batch_snapshot": 11,
    "kinesis_pysource_latest_resume": 11,
    "kinesis_pysource_partitioned_consume": 11,
    "kinesis_pysource_reshard_resume": 11,
    #   operators/similarity.py: _collect_centroids empty-slice
    #   ValueError (VERDICT r10 #5, deferred from r10). SCOPED flags,
    #   per the r7 plans/advanced.py precedent (edit strictly local to
    #   one function's body, no shared expression changed): the only
    #   execution paths reaching _collect_centroids are ivf_topk and
    #   ivfpq_adc_topk (grep-verified; sim_ann_recall evaluates
    #   LSH-vs-brute, no centroids). The file's other registered
    #   consumers are untouched semantically AND are r7-aged greens
    #   already occupying this round's tier-3 slots, so they get
    #   post-change rows this round regardless. operators/ivfpq.py's
    #   ADC null-guard + out-of-range slot fix (ADVICE r10) rides
    #   along on the ivfpq query:
    "sim_ivf_topk": 11,
    "sim_ivfpq_adc_topk": 11,
    # r12 changes, landed in r11 AFTER the window was exactly full
    # (43 r7-aged greens + 7 flags + the one new query = 50 — the
    # late-r6 dormant-flag convention): operators/mmr.py's greedy
    # refinement extracted into mmr_rerank (shared with the new
    # composed query) and plans/similarity.py's _mmr_oracle rebuilt on
    # the shared _mmr_tail — results verified identical at sf0.01 by
    # rehearsal and pinned by the randomized Python-greedy reference
    # test, but per the r2 lesson the query still gets a post-change
    # driver row when the flag activates in r12:
    "sim_mmr_diverse_topk": 12,
    # r12 changes (this round's window is being built now — ACTIVE):
    #   operators/mmr.py (ADVICE r11 ×3): mmr_over_candidates now drops
    #   self-pairs, caps the In-pushdown id collect (broadcast semi-join
    #   fallback), and passes pin=False so mmr_rerank skips the double
    #   pin of the checkpointed candidate frame; mmr_rerank gained the
    #   pin parameter. Both registered consumers of the file rescore
    #   (sim_mmr_diverse_topk is already keyed 12 above):
    "sim_mmr_over_ivfpq": 12,
    #   plans/timeseries.py: map_dimensions_long_form's explode changed
    #   to explode_outer + post-generate null filter (the VERDICT r11
    #   sweep-drift diagnosis: InferFiltersFromGenerate was duplicating
    #   the whole parse tree below scatter's exchange — 5.3 s → 0.9 s
    #   steady at sf0.1, results proven identical). Local to the one
    #   query body, so only it rescores:
    "map_dimensions_long_form": 12,
    #   operators/curation.py: curate_corpus's exact collapse rewritten
    #   from a row_number window to a map-side-combinable groupBy +
    #   id-keyed semi join (ADVICE r11 skew/width). SCOPED per the r7
    #   precedent — the edit is strictly local to curate_corpus's body,
    #   and that function's ONLY registered consumer is the new
    #   tier-0 `curate_corpus` query (scored this round by
    #   definition); the file's other five registered consumers
    #   (text_decontaminate_overlap / duplicate_spans / rarity /
    #   pii / mixing) import untouched functions and are NOT flagged.
    # r13 changes (this round's window is being built now — ACTIVE):
    #   operators/ivfpq.py: train_pq_codebooks gained the shared-`pts`
    #   parameter and ivfpq_refined_topk now quantizes/caches the
    #   corpus ONCE for both trainings (ADVICE r12) — every registered
    #   consumer of the file gets a post-change row:
    "sim_ivfpq_adc_topk": 13,
    "sim_ivfpq_recall": 13,
    "sim_ivfpq_refined_topk": 13,
    "sim_ivfpq_refined_recall": 13,
    #   operators/mmr.py: the over-cap fallback dropped its forced
    #   broadcast hint (ADVICE r12); plans/similarity.py (scoped per
    #   the r7 precedent): sim_mmr_over_ivfpq's candidate stage rewired
    #   onto the trained ivfpq_refined_topk path with the oracle rebuilt
    #   on _ivfpq_refined_ctes (VERDICT r12 #2), and sim_ivfpq_adc_topk
    #   retagged test-config (VERDICT r12 #4 — tag tuple is non-comment
    #   source, the applyinpandas_zscore r8 precedent; flagged above):
    "sim_mmr_diverse_topk": 13,
    "sim_mmr_over_ivfpq": 13,
    #   operators/curation.py (scoped to curate_corpus's body, its only
    #   registered consumer): the exact collapse now aggregates the
    #   full winner row via min(struct) — exactly one survivor per text
    #   even under non-unique ids (ADVICE r12 medium), semi join
    #   dropped:
    "curate_corpus": 13,
    #   functions/text.py: language_id rewritten from a nested when-
    #   chain (the running best referenced twice per language → ~2^5
    #   codegen subtree copies, each re-splitting the text) to a linear
    #   array_max over (hits, -order, lang) structs — byte-identical
    #   predictions verified over both sf tables + edge cases, 1.40 s →
    #   0.44 s on the sf0.1 gate scan. Scoped to language_id's direct
    #   registered consumers (curate_corpus already flagged above):
    "text_language_id": 13,
    #   operators/dedup.py: connected_components re-roots its rounds on
    #   a localCheckpoint of the materialized edge cache — plans that
    #   referenced the InMemoryRelation inherited its pinned output
    #   partitioning, blocking AQE broadcast/coalesce (round 1: 3.3 s →
    #   0.46 s at sf0.1). Consumers of connected_components
    #   (curate_corpus already flagged above):
    "dedup_cluster_representatives": 13,
    "dedup_collapse_then_clusters": 13,
    # r14 changes (this round's window is being built now — ACTIVE):
    #   plans/clustering.py: the k-means / scaled-prune oracle builders
    #   gained a `src` relation parameter (default "embeddings" —
    #   rendered oracles proven byte-identical for every existing
    #   query) so the new collapse-first composition
    #   (`dedup_collapse_then_semantic`, tier-0 this round) can point
    #   the verified chain at its collapsed CTE, and
    #   dedup_semantic_prune_scaled retagged test-config (VERDICT r13
    #   #6 — the tag tuple is non-comment source, the
    #   applyinpandas_zscore r8 precedent). Per the r2 lesson every
    #   registered consumer of the changed file gets a post-change row:
    "sim_kmeans_clusters": 14,
    "dedup_semantic_prune": 14,
    "dedup_semantic_prune_twolevel": 14,
    "dedup_semantic_prune_scaled": 14,
    #   plans/similarity.py (scoped per the r7/r13 precedent — the
    #   rendered-oracle diff is proven to touch exactly these two
    #   queries, and sim_mmr_candidate_recall is tier-0 this round):
    #   the composed retrieval's candidate stage now searches at the
    #   swept MMR_CAND_NPROBE=6 / MMR_CAND_SHORTLIST=200 knobs
    #   (VERDICT r13 #4 — dominates the old (4,100) default on mean AND
    #   min recall@20 at both measured scales at flat cost):
    "sim_mmr_over_ivfpq": 14,
    # r15 flags — the r14 OPTIMIZATION round's changes, keyed 15 per
    # the late-r6/r12 dormant-flag convention: r14's window was already
    # EXACTLY full when the optimization landed (43 r10-aged greens +
    # the 5 build flags above + 2 tier-0 registrations = 50 — the
    # rotation-debt test pins that composition), so these activate when
    # _CURRENT_ROUND bumps to 15. Every change below is result-
    # identical by construction and was proven so locally (focused
    # tests + driver-style oracle rehearsal at sf0.001/sf0.01, all
    # green — see OPTIMIZATION_r14.md), and the five build flags above
    # already give this round's window post-change rows for the
    # heaviest-touched paths (sim_mmr_over_ivfpq rides the MMR fold +
    # fused training; dedup_semantic_prune* ride the CC/clustering
    # edits they consume).
    #   operators/mmr.py: mmr_rerank's greedy loop rewritten from k−1
    #   unrolled joins + 6 cached intermediates to ONE groupBy + a
    #   single JVM aggregate(sequence(2,k)) fold — bit-identical
    #   (randomized Python-greedy reference test), 8.8 s → 1.3 s:
    "sim_mmr_diverse_topk": 15,
    #   operators/ivfpq.py: ivfpq_refined_train fused (one seed collect
    #   + one assignment/update job per Lloyd round, was two of each;
    #   pinned by test_refined_train_fused_equals_separate_trainings)
    #   and ivfpq_refined_encode shares the trained quantized cache.
    #   File-level consumers (sim_ivfpq_adc_topk / sim_ivfpq_recall
    #   execute only untouched functions — flagged anyway per the
    #   conservative file rule):
    "sim_ivfpq_adc_topk": 15,
    "sim_ivfpq_recall": 15,
    "sim_ivfpq_refined_topk": 15,
    "sim_ivfpq_refined_recall": 15,
    #   (sim_mmr_candidate_recall is tier-0 this round — its FIRST row
    #   lands in r14 on post-change code, so a flag would only force a
    #   wasted r15 rescore; same for dedup_collapse_then_semantic
    #   below, keyed 14 to self-expire with its r14 row):
    "sim_mmr_candidate_recall": 14,
    #   plans/dedup.py (SCOPED — edits strictly local to two query
    #   bodies): dedup_minhash_tuning's three signature passes collapse
    #   to ONE cached pass sliced per setting (prefix-stable
    #   coefficients, pinned by test_minhash_signature_is_prefix_stable);
    #   dedup_lineage_recursive caches the pair pipeline before the
    #   parent/nodes fork:
    "dedup_minhash_tuning": 15,
    "dedup_lineage_recursive": 15,
    #   operators/dedup.py (SCOPED — strictly local to
    #   connected_components' round loop): per-round eager checkpoint +
    #   count fused into one job. CC consumers:
    "dedup_cluster_representatives": 15,
    "dedup_collapse_then_clusters": 15,
    "curate_corpus": 15,
    #   plans/clustering.py (SCOPED — strictly local to
    #   dedup_collapse_then_semantic's body): duplicate inflation
    #   rewritten to a single-scan explode (was 4 parquet scans/run);
    #   tier-0 this round, so its first (r14) row is the post-change
    #   row and the flag self-expires with it:
    "dedup_collapse_then_semantic": 14,
    #   operators/clustering.py (SCOPED — strictly local to
    #   kmeans_assign_twolevel's seed-collection path): seed
    #   count()+collect() fused into one bounded take(cap+1). Its only
    #   registered consumer already carries the build's keyed-14 flag
    #   above (clustering-oracle src param), so its r14 row is ALSO the
    #   post-change row for this edit — no extra debt.
    # r15 changes (this round's window is being built now — ACTIVE):
    #   operators/ivfpq.py: the codebook-literal expression trees are
    #   now assembled as per-stage SQL strings (selectExpr/F.expr)
    #   instead of Column-API composition — physical plans verified
    #   byte-identical modulo lambda-variable numbering
    #   (plans/r15/*_{before,after}.txt), but per the r2 lesson every
    #   registered consumer of the changed file gets a post-change
    #   driver row. The five sim_ivfpq_* flags above are already keyed
    #   15; the two composed consumers re-key from their self-expired
    #   r14 flags:
    "sim_mmr_over_ivfpq": 15,
    "sim_mmr_candidate_recall": 15,
    #   operators/dedup.py (SCOPED per the r7/r11 precedent — edits
    #   strictly local to minhash_signature / lsh_candidate_pairs /
    #   minhash_near_dup_pairs bodies plus the new band_structs_sql /
    #   minhash_est_sql helpers; simhash / exact-jaccard / CC bodies
    #   untouched): the signature-permutation array, band layout and
    #   estimate are assembled as per-stage SQL strings. Every
    #   registered execution path reaching the changed functions
    #   (grep-verified) gets a post-change row — curate_corpus and
    #   dedup_minhash_tuning are already keyed 15 above:
    "dedup_minhash_pairs": 15,
    "dedup_minhash_eval": 15,
    "dedup_cross_corpus_prune": 15,
    "stream_dedup_minhash_bands": 15,
    #   operators/similarity.py (SCOPED — strictly local to lsh_bucket's
    #   body plus the new _hyperplane_sql helper): the bucket expression
    #   renders as one F.expr SQL string when given a column name (every
    #   internal call site). Registered execution paths reaching
    #   lsh_bucket (grep-verified): lsh_topk's two call sites and
    #   embedding_near_dup_pairs' banded keys:
    "sim_lsh_topk": 15,
    "sim_ann_recall": 15,
    "dedup_embedding_pairs": 15,
    # r16 changes (this round's window is being built now — ACTIVE):
    #   operators/{similarity,dedup,ivfpq}.py: the SQL-text builders
    #   (lsh_bucket, band_structs_sql, minhash_est_sql, _adc_sum_sql,
    #   _sub_code_sql) backtick-quote the column names they interpolate
    #   (ADVICE r15). Same parsed expressions for every plain name; per
    #   the r2 lesson the registered execution paths reaching them (the
    #   r15 lists above, minus stream_dedup_minhash_bands, which builds
    #   its bands through the unchanged Column wrapper) get a
    #   post-change row:
    "sim_lsh_topk": 16,
    "sim_ann_recall": 16,
    "dedup_embedding_pairs": 16,
    "dedup_minhash_pairs": 16,
    "dedup_minhash_eval": 16,
    "dedup_cross_corpus_prune": 16,
    "dedup_minhash_tuning": 16,
    "curate_corpus": 16,
    "sim_ivfpq_adc_topk": 16,
    "sim_ivfpq_recall": 16,
    "sim_ivfpq_refined_topk": 16,
    "sim_ivfpq_refined_recall": 16,
    "sim_mmr_over_ivfpq": 16,
    "sim_mmr_candidate_recall": 16,
    #   sources/batch.py: load_table reuses each file's inferred schema.
    #   Every query reads through it, so it is pinned by a test instead
    #   of by flags (tests/test_plan_reuse.py: same schema and rows as
    #   a plain read for every table).
    #   streaming/kinesis_pysource.py: the partitioned reader is now the
    #   only kinesis_py stream reader (the driver-side simple reader and
    #   streaming/kinesis_dev.py are gone), shard listing and the
    #   initial position are module functions, and the batch snapshot
    #   drains through the streaming reader's paging loop. The two
    #   incremental consume queries now run one availableNow kinesis_py
    #   query per wave over a shared checkpoint. Every kinesis_py
    #   consumer gets a post-change row:
    "kinesis_incremental_consume": 16,
    "kinesis_parallel_consume": 16,
    "kinesis_pysource_consume": 16,
    "kinesis_pysource_batch_snapshot": 16,
    "kinesis_pysource_latest_resume": 16,
    "kinesis_pysource_reshard_resume": 16,
    "kinesis_pysource_partitioned_consume": 16,
}


def _correctness_history() -> dict[int, dict]:
    """All committed driver scoring rows, keyed by round number."""
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
    return rounds


def _priority(name: str, history: dict[int, dict]) -> tuple[int, int]:
    rows = [(rnd, history[rnd][name]) for rnd in sorted(history) if name in history[rnd]]
    if not rows:
        return (0, 0)
    last_round, last = rows[-1]
    rows_only = last.get("err") == "no_oracle"
    if rows_only and REGISTRY[name].oracle is not None:
        return (1, -last_round)  # oracle added since: needs a real row
    green = (
        last.get("err") is None
        and last.get("rows_match") is True
        and last.get("schema_match") is True
        and last.get("hash_match") is True
    ) or rows_only  # rows-only by design: nothing stronger to chase
    if not green:
        return (1, -last_round)
    flag = _RESCORE_AFTER.get(name, 0)
    if flag > _CURRENT_ROUND:
        # DORMANT: a change landed late in the current round, after its
        # window was already full — the flag belongs to a future
        # round's window (activated by bumping _CURRENT_ROUND there).
        # Keyed to the explicit round constant, NOT max(history)+1: r6's
        # scoring never ran (no CORRECTNESS_r06 file), and the inferred
        # form would have kept the keyed-7 flags dormant forever.
        flag = 0
    if last_round < flag:
        # flag self-expires: once a round >= the change-round has scored
        # the query, it rejoins the normal canary rotation instead of
        # hogging a slot forever
        return (2, last_round)
    return (3, last_round)  # oldest green first → rotating canary slots


def _ordered_names() -> list[str]:
    load_all_plans()
    history = _correctness_history()
    names = list(REGISTRY)
    definition_order = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (*_priority(n, history), definition_order[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    load_all_plans()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query; queries
    registered with ``oracle=None`` (non-SQL-expressible semantics) are
    omitted → the driver records the weaker rows-only check."""
    load_all_plans()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
