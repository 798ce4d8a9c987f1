"""Run every __spark_entry__ query against its DuckDB oracle (sf0.01 by
default) and report row-count + value equality — a local stand-in for the
driver's CORRECTNESS gate.

Usage: python scripts/oracle_check.py [--distributed] [sf_dir] [query ...]

Sized to the machine it runs on: local[$SPARK_GRAFT_CPUS] (default: the
CPUs this process may use); the Spark driver heap ($SPARK_DRIVER_MEM,
default at most 40% of MemTotal) and DuckDB's memory limit (40% of
MemTotal) together leave a fifth of RAM to Python and the OS; and the
driver's collect cap is half its heap, so an oversized result fails at
the result-size guard instead of exhausting the heap.

--distributed forces SMALL_GRAPH_ROWS to -1 for the whole run, so every
traversal takes the distributed code path (checkpointed self-joins, CC,
chain contraction) instead of the single-task local algorithms — the
distributed implementations themselves get value-verified against DuckDB,
not just equality-to-local (VERDICT r1 'Next round' #6).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from bdtopo2refhydro_spark.session import get_spark  # noqa: E402


def force_distributed_paths() -> None:
    import bdtopo2refhydro_spark.operators._local as L
    import bdtopo2refhydro_spark.operators.aggregate as A
    import bdtopo2refhydro_spark.operators.orders as O

    L.SMALL_GRAPH_ROWS = -1
    A._SMALL_GRAPH_ROWS = -1
    O._SMALL_GRAPH_ROWS = -1
    # pin auto -> contract: the sf fixtures are junction-dense binary
    # forests, so the chain-fraction probe would divert auto to the round
    # loop and contraction would never be value-verified under forcing.
    # (The round path gets NATURAL-scale verification from the tree
    # fixture of scripts/natural_scale_check.py, contraction from its
    # chain fixture — this forced mode exists to gate contract cheaply.)
    O.MIN_CHAIN_FRACTION = -1.0

def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _to_mb(size: str) -> int:
    """Spark memory string ('16g', '1024m', bare number = MiB) -> MiB."""
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    size = size.strip().lower().removesuffix("b")
    if size[-1] in units:
        return int(float(size[:-1]) * units[size[-1]])
    return int(size)


def box_limits() -> tuple[str, int, int, int]:
    """(cores, driver heap MiB, driver maxResultSize MiB, DuckDB MiB)."""
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    share = int(_mem_total_mb() * 0.4)
    heap = _to_mb(os.environ.get("SPARK_DRIVER_MEM") or f"{min(share, 16 * 1024)}m")
    return cores, heap, heap // 2, share


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: bytes(v).hex() if isinstance(v, (bytes, bytearray))
                else str(v)
            )
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sp: pd.DataFrame, du: pd.DataFrame) -> str:
    if len(sp) != len(du):
        return f"ROWS {len(sp)} vs {len(du)}"
    if sorted(sp.columns) != sorted(du.columns):
        return f"SCHEMA {sorted(sp.columns)} vs {sorted(du.columns)}"
    a, b = normalize(sp), normalize(du)
    for c in a.columns:
        if str(a[c].dtype) == "float64":
            if not np.array_equal(a[c].to_numpy(), b[c].to_numpy(), equal_nan=True):
                mism = np.abs(a[c].to_numpy() - b[c].to_numpy())
                return f"VALUES col {c} max|diff|={np.nanmax(mism):.3e}"
        else:
            if not a[c].equals(b[c]):
                idx = (a[c] != b[c]).idxmax()
                return f"VALUES col {c} first diff @{idx}: {a[c][idx]!r} vs {b[c][idx]!r}"
    return "OK"


def main() -> int:
    args = sys.argv[1:]
    distributed = "--distributed" in args
    if distributed:
        args = [a for a in args if a != "--distributed"]
        force_distributed_paths()
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    cores, heap_mb, result_mb, duck_mb = box_limits()
    con = duckdb.connect()
    # big fixtures (sf1): cap DuckDB's memory and let it spill to disk
    # instead of climbing to the box limit (the closure oracles' verify
    # stage materializes shingle lists per candidate pair)
    con.execute(f"SET memory_limit='{duck_mb}MB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        # driver fixtures are single files; scripts/make_sf.py fixtures
        # are Spark-written directories -> glob the part files for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    # big fixtures: quadratic-OUTPUT contracts (containment/lsh_pairs at
    # sf1) collect tens of millions of rows for the pandas compare —
    # lift the 1g driver collect cap for this harness only, keeping it
    # strictly below the heap
    spark = get_spark("oracle_check", cores=cores, shuffle_partitions=16,
                      extra_conf={"spark.driver.memory": f"{heap_mb}m",
                                  "spark.driver.maxResultSize": f"{result_mb}m"})
    print(f"local[{cores}], driver heap {heap_mb} MiB, maxResultSize "
          f"{result_mb} MiB, DuckDB memory_limit {duck_mb} MiB")
    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} SPARK ERROR: {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        finally:
            # deterministic block hygiene between queries (see _ckpt.py):
            # each query's final checkpoints are consumed by toPandas
            from bdtopo2refhydro_spark.operators._ckpt import (
                release_all_persistent,
            )

            release_all_persistent(spark)
            spark.catalog.clearCache()
        if name not in os_:
            print(f"{name:24s} rows-only: {len(sp)}")
            continue
        try:
            du = con.execute(os_[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:24s} DUCKDB ERROR: {type(ex).__name__}: {str(ex)[:160]}")
            failures += 1
            continue
        verdict = compare(name, sp, du)
        print(f"{name:24s} {verdict}  ({len(sp)} rows)")
        if verdict != "OK":
            failures += 1
    spark.stop()
    print(f"\n{'PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
