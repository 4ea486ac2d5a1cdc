"""Scale probe: registry slots timed on N disjoint copies of the testdata.

At sf0.1 most headline slots are bound by fixed overhead (plan build,
broadcast latency, per-job driver rounds), so plan-shape decisions drown
in it. N copies of the sf0.1 tables (the "10× corpus" at N = 10) make the
heavy slots compute-bound while every query keeps its sf0.1 semantics:
each copy is structurally identical to the source and disjoint from the
others, so work grows N× through the SAME exchanges instead of the first
dedup collapsing the copies back to 1×.

Corpus derivation (copy i = 0 … N-1; copy 0 is the source unchanged):
  lineitem    l_orderkey += i·10,000,000; l_partkey += i·2,600,000. The
              partkey offset is divisible by 13, so the bad-name set
              (p_partkey % 13 == 0) and each copy's rare-molecule counts
              hold exactly. l_suppkey is kept: supplier joins stay valid.
  orders      o_orderkey += i·10,000,000; o_custkey is kept (customer
              joins stay valid).
  part        p_partkey += i·2,600,000.
  events      event_id += i·10,000,000; user_id and ts are kept, because
              the stream-static joins read c_custkey = user_id + 1.
  documents   doc_id += i·1,000,000, which keeps doc_id % 10 (the eval set
              of the decontamination queries). Letters are rotated by i
              in every token that is not a stopword (text.STOPWORDS, case
              folded), so vocabularies are disjoint across copies (near-
              dup structure grows N× instead of becoming one clique)
              while each document's quality score and language id are
              the same in every copy. Rotation repeats after 26 copies.
  embeddings  vec_id += i·1,000,000; vectors are kept (the vec_id < 5
              query set stays 5 queries, candidates grow N×).
  region, nation, customer, supplier: shared unchanged (symlinked).

Each slot is timed as min-of-R ``fn(spark, dst).count()`` in one session,
after a warmup; the core count and a sha256 calibration (bench.py's
calib_py_hash probe) are printed before and after the slots. The last
stdout line is JSON. Variant A/Bs are two registry slots in one run
(e.g. --slots c_rare_to_other,c_rare_to_other_join).

Usage:
  python tools/scale_probe.py --gen [--copies 10]     # build the corpus
  python tools/scale_probe.py [--slots a,b] [--reps 2]
Cores come from SPARK_GRAFT_CPUS; the source dir is session.DEFAULT_SF_DIR.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from functools import reduce
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from orderly_spark.operators import text as T  # noqa: E402

LOWER = "abcdefghijklmnopqrstuvwxyz"
KEY_STRIDE = 10_000_000
PART_STRIDE = 2_600_000  # divisible by 13
ID_STRIDE = 1_000_000  # divisible by 10
#: table → [(column, stride)] shifted by copy * stride, and output files
COPIED = {
    "lineitem": ([("l_orderkey", KEY_STRIDE), ("l_partkey", PART_STRIDE)], 32),
    "orders": ([("o_orderkey", KEY_STRIDE)], 16),
    "part": ([("p_partkey", PART_STRIDE)], 8),
    "events": ([("event_id", KEY_STRIDE)], 16),
    "documents": ([("doc_id", ID_STRIDE)], 16),
    "embeddings": ([("vec_id", ID_STRIDE)], 16),
}
SHARED = ("region", "nation", "customer", "supplier")


def rotate_text(text, i: int):
    """``text`` with letters rotated by ``i`` in every non-stopword token;
    whitespace is kept byte for byte."""
    k = i % 26
    if k == 0:
        return text
    src = LOWER + LOWER.upper()
    dst = LOWER[k:] + LOWER[:k] + (LOWER[k:] + LOWER[:k]).upper()
    pieces = F.split(text, r"(?<=\s)|(?=\s)")  # tokens and single whitespace chars
    return F.concat_ws(
        "",
        F.transform(
            pieces,
            lambda t: F.when(F.lower(t).isin(*T.STOPWORDS), t).otherwise(F.translate(t, src, dst)),
        ),
    )


def gen(spark, src: str, dst: str, copies: int) -> None:
    """Write the ``copies``-fold corpus of ``src`` to ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for table, (shifts, files) in COPIED.items():
        base = spark.read.parquet(f"{src}/{table}.parquet")

        def copy(i: int):
            cols = {c: F.col(c) + F.lit(i * stride) for c, stride in shifts}
            if table == "documents":
                cols["text"] = rotate_text(F.col("text"), i)
            return base.withColumns(cols)

        out = reduce(lambda a, b: a.unionByName(b), (copy(i) for i in range(copies)))
        out.repartition(files).write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
    for table in SHARED:
        link = Path(f"{dst}/{table}.parquet")
        if link.is_symlink() or link.exists():
            continue
        link.symlink_to(Path(f"{src}/{table}.parquet").resolve())


def gate_passes_per_copy(spark, sf_dir: str) -> list[int]:
    """Documents passing the curation quality gate, per copy."""
    q = T.quality_features(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    rows = (
        q.filter((F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10))
        .groupBy(F.floor(F.col("doc_id") / ID_STRIDE).alias("copy"))
        .count()
        .collect()
    )
    by_copy = {r["copy"]: r["count"] for r in rows}
    return [by_copy.get(i, 0) for i in range(max(by_copy, default=-1) + 1)]


def calib() -> float:
    """bench.py's calib_py_hash probe: 1.5M sha256 rounds on the driver."""
    t0 = time.perf_counter()
    b = b"orderly-spark-calibration-block-64-bytes-long-0123456789abcdef!"
    for _ in range(1_500_000):
        b = hashlib.sha256(b).digest() + b[32:]
    return round(time.perf_counter() - t0, 3)


def run(spark, sf_dir: str, slots: list[str], reps: int) -> dict:
    """Min-of-``reps`` seconds and row count per slot, plus calibration."""
    from orderly_spark.registry import REGISTRY

    unknown = [s for s in slots if s not in REGISTRY]
    if unknown:
        raise KeyError(f"unknown slots: {unknown}")
    # warmup as bench.py: parquet footers + page cache, Python worker pool
    for t in (*COPIED, *SHARED):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

    result = {"sf_dir": sf_dir, "cpus": spark.sparkContext.defaultParallelism, "calib_pre": calib(), "slots": {}}
    print(f"# cpus={result['cpus']} calib_pre={result['calib_pre']}s", flush=True)
    for name in slots:
        best, n = None, 0
        for _ in range(reps):
            t0 = time.perf_counter()
            n = REGISTRY[name].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        result["slots"][name] = {"s": round(best, 3), "rows": n}
        print(f"# {name}: {best:.2f}s ({n} rows)", flush=True)
    result["calib_post"] = calib()
    result["total_s"] = round(sum(v["s"] for v in result["slots"].values()), 2)
    print(f"# calib_post={result['calib_post']}s total={result['total_s']}s", flush=True)
    return result


def main(argv: list[str]) -> int:
    from bench import HEADLINE
    import orderly_spark.queries  # noqa: F401
    from orderly_spark.session import DEFAULT_SF_DIR, get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--gen", action="store_true", help="build the corpus and exit")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--dst", help="corpus dir (default /tmp/<source dir name>x<copies>)")
    ap.add_argument("--slots", help="comma-separated registry slots (default: bench.HEADLINE)")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args(argv)
    if args.copies < 1:
        ap.error("--copies must be >= 1")
    dst = args.dst or f"/tmp/{Path(DEFAULT_SF_DIR).name}x{args.copies}"

    spark = get_spark("orderly_spark.scale_probe")
    if args.gen:
        gen(spark, DEFAULT_SF_DIR, dst, args.copies)
        print(f"# generated {dst}; quality-gate passes per copy: {gate_passes_per_copy(spark, dst)}")
        return 0
    slots = args.slots.split(",") if args.slots else list(HEADLINE)
    print(json.dumps(run(spark, dst, slots, args.reps)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
