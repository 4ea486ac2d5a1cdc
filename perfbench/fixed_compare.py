"""Compare the generated registry tables with a directory of the
repository's fixed test tables at the same scale.

    python3 perfbench/fixed_compare.py FIXED_SF_DIR SF [SEED ...]

Generates the tables for each seed (default 1 2 3) at ``SF`` under
``.perfbench_work/`` and prints, per table, the row counts and any
column whose name or parquet type differs, then, per headline slot, the
row count of its DuckDB oracle on the fixed and on each generated
directory. Exits 1 if a schema differs or a slot that returns rows on
the fixed tables returns none on a generated one.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import pyarrow.parquet as pq  # noqa: E402

import bench  # noqa: E402
import orderly_spark.queries  # noqa: E402, F401  (registers the slots)
import star_tables  # noqa: E402
from orderly_spark.oracle import duckdb_connect  # noqa: E402
from orderly_spark.registry import REGISTRY  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _columns(path: Path) -> dict[str, str]:
    schema = pq.ParquetFile(path).schema
    return {
        schema.column(i).name: f"{schema.column(i).physical_type}/{schema.column(i).logical_type}"
        for i in range(len(schema))
    }


def main(argv: list[str]) -> int:
    fixed, sf = Path(argv[0]), float(argv[1])
    seeds = [int(a) for a in argv[2:]] or [1, 2, 3]
    work = ROOT / ".perfbench_work" / "fixed_compare"
    dirs = {"fixed": fixed}
    for seed in seeds:
        dirs[f"seed{seed}"] = work / f"s{seed}"
        star_tables.generate(sf, seed, dirs[f"seed{seed}"])
    bad: list[str] = []
    try:
        print(f"{'table':<12}" + "".join(f"{k:>10}" for k in dirs))
        for t in TABLES:
            rows = [pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows for d in dirs.values()]
            print(f"{t:<12}" + "".join(f"{n:>10}" for n in rows))
            want = _columns(fixed / f"{t}.parquet")
            for k, d in dirs.items():
                got = _columns(d / f"{t}.parquet")
                if got != want:
                    bad.append(f"{t} schema of {k}: {sorted(set(got.items()) ^ set(want.items()))}")
        print(f"\n{'oracle rows':<30}" + "".join(f"{k:>10}" for k in dirs))
        cons = {k: duckdb_connect(str(d)) for k, d in dirs.items()}
        for slot in bench.HEADLINE:
            n = {k: len(con.execute(REGISTRY[slot].oracle).fetchdf()) for k, con in cons.items()}
            print(f"{slot:<30}" + "".join(f"{v:>10}" for v in n.values()))
            bad += [f"{slot}: no rows on {k}, {n['fixed']} on fixed" for k, v in n.items() if n["fixed"] and not v]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for b in bad:
        print("DIFF:", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
