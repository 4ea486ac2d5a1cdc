"""Output checks, run after the timed region and without the engine's
Spark path: DuckDB reads the written parquet, the pure-Python Morgan
kernel recomputes a sample of fingerprints in this process, and the
registry results are compared with each slot's DuckDB oracle."""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

import duckdb


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _scan(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _rxn_key(table: str) -> str:
    def role(r: str) -> str:
        return f"array_to_string(list_sort(list_transform(coalesce({r}, []), x -> coalesce(x, 'NULL'))), '.')"

    return f"SELECT DISTINCT {role('reactants')} || '>' || {role('products')} AS k FROM {table}"


def digest(paths: list[Path]) -> str:
    """Order-insensitive digest of every row of every dataset: the row
    count and the sum of DuckDB's 64-bit row hashes, per dataset."""
    con = duckdb.connect()
    parts = [
        "%d:%d" % con.execute(
            f"SELECT count(*), coalesce(sum(hash(s)::HUGEINT), 0) FROM {_scan(p)} s"
        ).fetchone()
        for p in paths
    ]
    return con.execute("SELECT md5(?)", ["|".join(parts)]).fetchone()[0]


def count_rows(path: Path) -> int:
    return duckdb.connect().execute(f"SELECT count(*) FROM {_scan(path)}").fetchone()[0]


def fp_distinct_ratio(clean_paths: list[Path], slots: int) -> float:
    """Distinct non-null SMILES fed to the fingerprint UDF over the
    UDF's input values (one product and ``slots`` reactant slots per
    row): the share of kernel calls that are not repeats."""
    con = duckdb.connect()
    union = " UNION ALL ".join(f"SELECT reactants, products FROM {_scan(p)}" for p in clean_paths)
    cols = ["products[1]"] + [f"reactants[{i + 1}]" for i in range(slots)]
    values = " UNION ALL ".join(f"SELECT {c} AS m FROM ({union})" for c in cols)
    n_rows = con.execute(f"SELECT count(*) FROM ({union})").fetchone()[0]
    distinct = con.execute(f"SELECT count(DISTINCT m) FROM ({values}) WHERE m IS NOT NULL").fetchone()[0]
    return distinct / max(n_rows * len(cols), 1)


def ord_checks(out: Path, expected_reactions: int, seed: int, fp_size: int, radius: int, slots: int) -> list[Check]:
    """Invariants of one extract → clean → gen-fp pass under ``out``."""
    from orderly_spark.functions.smiles import morgan_fingerprint

    con = duckdb.connect()
    checks: list[Check] = []
    n_ex = count_rows(out / "ex" / "extracted_ords")
    checks.append(Check("extract.rows", n_ex == expected_reactions, f"{n_ex} extracted, {expected_reactions} generated"))

    train, test = _scan(out / "cl" / "train.parquet"), _scan(out / "cl" / "test.parquet")
    leaked = con.execute(
        f"SELECT count(*) FROM ({_rxn_key(train)}) a JOIN ({_rxn_key(test)}) b USING (k)"
    ).fetchone()[0]
    n_train = con.execute(f"SELECT count(*) FROM {train}").fetchone()[0]
    n_test = con.execute(f"SELECT count(*) FROM {test}").fetchone()[0]
    checks.append(Check("clean.no_leakage", leaked == 0 and n_train > 0, f"{leaked} reactions in both splits"))

    for split, n_rows in (("train", n_train), ("test", n_test)):
        fp = _scan(out / f"fp_{split}")
        lo, hi, n = con.execute(f"SELECT min(len(rxn_fp)), max(len(rxn_fp)), count(*) FROM {fp}").fetchone()
        ok = n == n_rows and (n == 0 or lo == hi == 2 * fp_size)
        checks.append(Check(f"gen_fp.{split}.width", ok, f"{n} rows, rxn_fp width {lo}..{hi}"))

    rows = con.execute(
        f"SELECT original_index, products, reactants, product_fp, rxn_fp FROM {_scan(out / 'fp_train')} "
        "ORDER BY original_index"
    ).fetchall()
    sample = random.Random(f"fp-sample:{seed}").sample(rows, min(6, len(rows)))
    bad = []
    for idx, products, reactants, product_fp, rxn_fp in sample:
        def fp_of(s):
            v = morgan_fingerprint(s, radius=radius, n_bits=fp_size) if s is not None else None
            return v if v is not None else [0] * fp_size

        pf = fp_of(products[0] if products else None)
        diff = list(pf)
        for r in (reactants or [])[:slots]:
            diff = [a - b for a, b in zip(diff, fp_of(r))]
        if list(product_fp) != pf or list(rxn_fp) != diff + pf:
            bad.append(idx)
    checks.append(Check("gen_fp.morgan_sample", not bad and bool(sample), f"{len(sample)} sampled, mismatched {bad}"))
    return checks


class _Result:
    """Stands in for a DataFrame whose result was already collected, so
    the oracle comparison reuses the timed ``toPandas()`` result."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def oracle_check(con: duckdb.DuckDBPyConnection, query, pdf, sf_dir: str) -> Check:
    """Compare a slot's collected result with its DuckDB oracle. Every
    headline slot returns rows on the repository's fixed tables (see
    ``fixed_compare.py``), so an empty result fails even when the
    oracle is empty too."""
    from orderly_spark.oracle import compare_query
    from orderly_spark.registry import Query

    if query.oracle is None:
        return Check(f"oracle.{query.name}", False, "no oracle")
    if len(pdf) == 0:
        return Check(f"oracle.{query.name}", False, "empty result")
    shim = Query(name=query.name, fn=lambda _spark, _sf: _Result(pdf), oracle=query.oracle)
    res = compare_query(None, con, shim, sf_dir)
    return Check(f"oracle.{query.name}", res.ok, res.detail)
