"""Build a scaled-up rehearsal dataset by replicating the driver's
sf0.1 testdata K× with shifted keys (default K=10 ≈ "sf1").

Purpose (VERDICT r1 #5): rehearse the bench + oracle suite one scale
tier above the driver's sf0.1 — the tier that historically surfaces the
next class of bugs (skewed bands, AQE behavior, memory pressure) —
without touching /root/testdata (read-only).

Semantics of the scaling:

- ``region``/``nation`` are fixed-cardinality dimensions (as in TPC-H's
  scale model) — copied once, never replicated.
- Fact/entity tables get K copies with every primary/foreign key
  shifted by ``copy * (max_key + 1)`` of the key's HOME table, so
  referential integrity holds copy-by-copy.
- ``events`` is replicated via pyarrow so ``ts`` keeps the driver
  data's exact physical type TIMESTAMP(NANOS) — Spark's nanosAsLong
  path AND DuckDB's ``CAST(ts AS TIMESTAMP)`` oracles behave
  identically to sf0.1 (a Spark rewrite would demote ts to BIGINT and
  break the DuckDB side). Timestamps are NOT shifted: K× the events per
  window is exactly the load-growth profile wanted.
- ``documents``/``embeddings`` copies keep identical text/vectors —
  a dup-heavy corpus is the realistic (and adversarial) dedup workload:
  shingle document frequencies grow K×, pushing hot shingles over the
  stop-list cap, and every cross-copy pair is a true near-dup.

Usage:
    python scripts/make_scaled_sf.py [K] [SRC_SF_DIR] [OUT_DIR] [--tables=a,b]
    # defaults: 10 /root/testdata/sf0.1 /root/repo/.scratch/sf1 (all tables)
    # --tables limits replication to a subset (e.g. the r4 100x dress
    # rehearsal replicates only documents,embeddings at K=100)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIM_TABLES = ("region", "nation")

# Rows per parquet row group of the replicated ``events``. Spark hands
# each row group to one scan task, so one group per written batch of
# copies (1 M rows at K=10) left every row to a single task.
EVENTS_ROW_GROUP_ROWS = 128 * 1024

# table -> {key_column -> home table whose max value sets the shift stride}
KEY_HOMES: dict[str, dict[str, tuple[str, str]]] = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "orders": {
        "o_orderkey": ("orders", "o_orderkey"),
        "o_custkey": ("customer", "c_custkey"),
    },
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "part": {"p_partkey": ("part", "p_partkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}


def replicate(df: DataFrame, shifts: dict[str, int], k: int) -> DataFrame:
    copies = []
    for i in range(k):
        c = df
        for col, stride in shifts.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * stride))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def replicate_events_arrow(src: str, out: str, k: int) -> int:
    """Replicate events via pyarrow, preserving the TIMESTAMP(NANOS)
    physical type Spark's writer cannot produce."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # an events-only replication reaches here before any Spark write has
    # created the output dir — pyarrow does not mkdir
    os.makedirs(out, exist_ok=True)
    t0 = pq.read_table(f"{src}/events.parquet")
    ev_stride = pc.max(t0["event_id"]).as_py() + 1
    us_stride = pc.max(t0["user_id"]).as_py() + 1
    # STREAMED write, one buffered group of copies at a time: the old
    # concat-then-write materialized all K copies in memory, which is
    # ~20 GB of Arrow buffers at K=1000 (the r8 fourth-decade fixture) —
    # the writer path is O(group) memory instead and produces the same
    # rows, in row groups of EVENTS_ROW_GROUP_ROWS so scans parallelize
    # Write to a temp path and rename on success (ADVICE r7): closing
    # the writer in `finally` finalizes a VALID parquet footer even when
    # replication died mid-loop (OOM/interrupt), and a truncated-but-
    # readable fixture is worse than an unreadable one — a later
    # rehearsal would silently consume it. The rename is atomic within
    # the directory; on failure the partial temp file is deleted.
    group: list[pa.Table] = []
    n_rows = 0
    final_path = f"{out}/events.parquet"
    tmp_path = f"{out}/.events.parquet.inprogress"
    writer = pq.ParquetWriter(tmp_path, t0.schema)
    try:
        for i in range(k):
            t = t0.set_column(
                t0.schema.get_field_index("event_id"),
                "event_id",
                pc.add(t0["event_id"], i * ev_stride),
            )
            t = t.set_column(
                t.schema.get_field_index("user_id"),
                "user_id",
                pc.add(t["user_id"], i * us_stride),
            )
            group.append(t)
            if len(group) >= 10 or i == k - 1:
                merged = pa.concat_tables(group)
                writer.write_table(merged, row_group_size=EVENTS_ROW_GROUP_ROWS)
                n_rows += merged.num_rows
                group = []
    except BaseException:
        writer.close()
        try:
            os.remove(tmp_path)
        except OSError:
            pass
        raise
    writer.close()
    os.rename(tmp_path, final_path)
    return n_rows


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--tables=")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--tables="):
            only = set(a.split("=", 1)[1].split(","))
    k = int(args[0]) if len(args) > 0 else 10
    src = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    out = args[2] if len(args) > 2 else "/root/repo/.scratch/sf1"

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "24g")
        .appName("make_scaled_sf")
        .getOrCreate()
    )

    fact_tables = {
        t: homes for t, homes in KEY_HOMES.items() if only is None or t in only
    }
    strides: dict[tuple[str, str], int] = {}
    for homes in fact_tables.values():
        for home in homes.values():
            if home not in strides:
                tbl, col = home
                mx = (
                    spark.read.parquet(f"{src}/{tbl}.parquet")
                    .agg(F.max(col))
                    .first()[0]
                )
                strides[home] = int(mx) + 1

    for t in DIM_TABLES:
        if only is not None and t not in only:
            continue
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
        print(f"{t}: copied (dimension)", flush=True)

    for t, homes in fact_tables.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        shifts = {col: strides[home] for col, home in homes.items()}
        replicate(df, shifts, k).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        n = spark.read.parquet(f"{out}/{t}.parquet").count()
        print(f"{t}: {n} rows ({k}x)", flush=True)

    if only is None or "events" in only:
        n = replicate_events_arrow(src, out, k)
        print(f"events: {n} rows ({k}x, arrow ns-timestamps)", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
