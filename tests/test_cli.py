"""CLI round trip: python -m orderly_spark extract -> clean -> gen-fp
over fake ORD files — the switch-over path for a user of the
reference's `orderly.extract` / `orderly.clean` / `orderly.gen_fp`
CLIs (main.py:239-454, cleaner.py:948-1196)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from orderly_spark.cli import main
from orderly_spark.sources import ord as O

TMP = Path(__file__).parent / "tmp_cli"


@pytest.fixture(scope="module")
def workdir(spark):  # spark fixture keeps one session for the in-process CLI
    if TMP.exists():
        shutil.rmtree(TMP)
    (TMP / "data" / "d1").mkdir(parents=True)
    rows = [
        {
            "rxn_str": f"CC.OO>N>CCO |{i}|",
            "reactants": ["CC", "OO"],
            "products": ["CCO"],
            "yields": [50.0 + i],
            "agents": ["N"],
            "solvents": [],
            "is_mapped": i % 2 == 0,
            "procedure_details": "p",
        }
        for i in range(8)
    ] + [
        {
            "rxn_str": "CC.CN>O>CN",  # rare molecule CN -> removed at min-freq 2
            "reactants": ["CC", "CN"],
            "products": ["CN"],
            "yields": [10.0],
            "agents": ["O"],
            "solvents": [],
            "is_mapped": False,
        }
    ]
    (TMP / "data" / "d1" / "a.pb.gz").write_bytes(O.fake_dataset_bytes(rows))
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_cli_extract_clean_genfp_roundtrip(workdir, spark, capsys):
    ex_out = str(workdir / "extracted")
    rc = main(
        [
            "extract",
            "--data-path", str(workdir / "data"),
            "--output-path", ex_out,
            "--decoder", "json",
        ]
    )
    assert rc == 0
    assert (Path(ex_out) / "extract_config.json").exists()
    extracted = spark.read.parquet(f"{ex_out}/extracted_ords")
    assert extracted.count() == 9
    assert "reactants" in extracted.columns

    cl_out = str(workdir / "cleaned")
    rc = main(
        [
            "clean",
            "--ord-extraction-path", f"{ex_out}/extracted_ords",
            "--molecules-to-remove-path", f"{ex_out}/molecule_names",
            "--output-path", cl_out,
            "--min-frequency-of-occurrence", "2",
            "--num-agent", "2",
            "--train-test-split-fraction", "0.75",
        ]
    )
    assert rc == 0
    train = spark.read.parquet(f"{cl_out}/train.parquet")
    test = spark.read.parquet(f"{cl_out}/test.parquet")
    # 9 extracted -> dedup collapses the 8 same-role rows by role
    # subset only at the second dedup (include_yields=False), and the
    # rare CN row is removed at min-freq 2
    assert train.count() + test.count() >= 1
    cfg = json.loads((Path(cl_out) / "clean_config.json").read_text())
    assert cfg["min_frequency_of_occurrence"] == 2

    fp_out = str(workdir / "fp.parquet")
    npy_out = str(workdir / "fp.npy")
    rc = main([
        "gen-fp", "--clean-data-path", f"{cl_out}/train.parquet",
        "--output-path", fp_out, "--fp-size", "64",
        "--npy-output-path", npy_out,
    ])
    assert rc == 0
    fp = spark.read.parquet(fp_out)
    row = fp.select("rxn_fp").first()
    assert row is not None and len(row["rxn_fp"]) == 128  # concat(diff, product)
    import numpy as np

    mat = np.load(npy_out)  # the reference's dense artifact (S10)
    assert mat.dtype == np.int64 and mat.shape == (fp.count(), 128)


def test_cli_genfp_slot_cap_from_config_and_guard(workdir, spark, capsys):
    """gen-fp derives --reactant-slots from the clean stage's
    clean_config.json; under-sized slots are loud (review finding r5:
    a fixed default of 5 silently omitted reactants beyond slot 5
    when clean ran with a bigger --num-reactant)."""
    d = workdir / "genfp_guard"
    df = spark.createDataFrame(
        [(["CC", "OO", "CN"], ["CCO"])], "reactants array<string>, products array<string>"
    )
    df.write.mode("overwrite").parquet(str(d / "train.parquet"))
    # lineage record claims the clean cap was 2 — data disagrees (3
    # reactants), so the config-derived default must FAIL loudly
    (d / "clean_config.json").write_text(json.dumps({"num_reactant": 2}))
    args = ["gen-fp", "--clean-data-path", str(d / "train.parquet"),
            "--output-path", str(d / "fp.parquet"), "--fp-size", "16"]
    assert main(args) == 2
    assert "OMITTED" in capsys.readouterr().err
    # explicit under-size = informed choice -> warn but proceed
    assert main([*args, "--reactant-slots", "2"]) == 0
    assert "WARNING" in capsys.readouterr().err
    # config cap covering the data -> clean run, no guard output
    (d / "clean_config.json").write_text(json.dumps({"num_reactant": 3}))
    assert main(args) == 0
    err = capsys.readouterr().err
    assert "OMITTED" not in err and "defaulting" not in err


def test_cli_unresolved_mode_exclusivity(workdir):
    rc = main(
        [
            "clean",
            "--ord-extraction-path", "x",
            "--molecules-to-remove-path", "y",
            "--output-path", "z",
            "--remove-rxn-with-unresolved-names",  # two modes on at once
        ]
    )
    assert rc == 2


def test_cli_extract_default_decoder_wire_protobuf(spark, tmp_path):
    """r10: the CLI's DEFAULT decoder (--decoder auto) parses real
    wire-format .pb.gz through the pure-Python codec — the exact
    switch-over path a reference user hits first, no flags needed."""
    from orderly_spark.sources import ord_wire as W

    data = tmp_path / "data" / "d1"
    data.mkdir(parents=True)
    rxns = [
        W.encode_reaction(
            cxsmiles=f"CC.OO>N>CCO |{i}|",
            is_mapped=i % 2 == 0,
            inputs=[("m", [W.encode_compound([(2, "CC.OO")], 1),
                           W.encode_compound([(2, "N")], 2)])],
            products=[("CCO", 50.0 + i)],
            procedure_details="p",
        )
        for i in range(6)
    ]
    (data / "a.pb.gz").write_bytes(W.dataset_pb_gz(rxns))
    out = str(tmp_path / "extracted")
    rc = main(["extract", "--data-path", str(tmp_path / "data"), "--output-path", out])
    assert rc == 0
    extracted = spark.read.parquet(f"{out}/extracted_ords")
    rows = extracted.collect()
    assert len(rows) == 6
    # roles re-derived from the decoded rxn string; suffix stripped
    assert all(r.rxn_str == "CC.OO>N>CCO" for r in rows)
    assert sorted(r.yields[0] for r in rows) == [50.0, 51.0, 52.0, 53.0, 54.0, 55.0]


def _per_slot_gen_fp(df, n_bits, radius, slots):
    """The gen-fp result built the per-slot way: one Morgan UDF column
    per slot, differenced by fingerprint_difference."""
    from pyspark.sql import functions as F

    from orderly_spark.functions import chem

    fp = chem.morgan_fingerprint_udf(n_bits=n_bits, radius=radius)
    r_cols = [f"__r{i}_fp" for i in range(slots)]
    out = df.withColumn("product_fp", fp(F.get(F.col("products"), 0)))
    for i, rc in enumerate(r_cols):
        out = out.withColumn(rc, fp(F.get(F.col("reactants"), i)))
    return (
        out.withColumn(
            "rxn_diff_fp",
            chem.fingerprint_difference(F.col("product_fp"), *[F.col(rc) for rc in r_cols]),
        )
        .withColumn("rxn_fp", F.concat(F.col("rxn_diff_fp"), F.col("product_fp")))
        .drop(*r_cols)
    )


def test_cli_genfp_matches_per_slot_fingerprints(spark, tmp_path, capsys):
    """gen-fp's one-pass row UDF gives the same columns, types,
    nullability and values as per-slot Morgan UDFs differenced in the
    JVM, on the edge rows: NULL/empty products, NULL reactants and a
    NULL member, an unparseable name, a duplicated reactant, exactly
    ``slots`` reactants and more than ``slots`` under an explicit
    --reactant-slots."""
    from orderly_spark.functions import chem

    slots, n_bits, radius = 3, 64, 2
    df = spark.createDataFrame(
        [
            (0, None, ["CC", "O"]),
            (1, [], ["CC"]),
            (2, ["CCO"], None),
            (3, ["CCO"], ["CC", None, "O"]),
            (4, ["CCO"], ["sodium chloride", "O"]),
            (5, ["c1ccccc1O"], ["CC", "CC"]),
            (6, ["CCN"], ["C", "CC", "CCC"]),
            (7, ["CCN"], ["C", "CC", "CCC", "CCCC", "N"]),
            (8, [None, "CC"], []),
        ],
        "original_index long, products array<string>, reactants array<string>",
    )
    old = _per_slot_gen_fp(df, n_bits, radius, slots)
    new = chem.reaction_fingerprints(df, n_bits=n_bits, radius=radius, slots=slots)
    assert new.schema == old.schema
    assert new.orderBy("original_index").collect() == old.orderBy("original_index").collect()

    src, out, ref = (str(tmp_path / n) for n in ("train.parquet", "fp.parquet", "ref.parquet"))
    df.write.parquet(src)
    old.write.parquet(ref)
    rc = main(["gen-fp", "--clean-data-path", src, "--output-path", out,
               "--fp-size", str(n_bits), "--radius", str(radius), "--reactant-slots", str(slots)])
    assert rc == 0
    assert "1 rows have more than 3 reactants" in capsys.readouterr().err
    got, want = spark.read.parquet(out), spark.read.parquet(ref)
    assert got.schema == want.schema
    assert got.orderBy("original_index").collect() == want.orderBy("original_index").collect()


def test_cli_extract_decodes_each_file_once(spark, tmp_path, monkeypatch):
    """extract writes the reactions and the molecule-name side output
    from one decode: the decoder runs once per file, not once per
    consumer."""
    from orderly_spark.sources import ord_wire as W

    data = tmp_path / "data"
    for d in range(2):
        (data / f"d{d}").mkdir(parents=True)
        for f in range(2):
            rxns = [
                W.encode_reaction(
                    cxsmiles=f"CC.OO>N>CCO |{d}{f}{i}|",
                    is_mapped=False,
                    inputs=[("m", [W.encode_compound([(2, "CC.OO")], 1)])],
                    products=[("CCO", 50.0 + i)],
                )
                for i in range(3)
            ]
            (data / f"d{d}" / f"f{f}.pb.gz").write_bytes(W.dataset_pb_gz(rxns))
    calls = tmp_path / "calls"
    calls.mkdir()

    def counting_decoder(filename, content, _calls=str(calls), _decode=O.proto_decoder):
        import os
        import uuid

        open(os.path.join(_calls, uuid.uuid4().hex), "w").close()
        return _decode(filename, content)

    monkeypatch.setattr(O, "proto_decoder", counting_decoder)
    out = str(tmp_path / "extracted")
    assert main(["extract", "--data-path", str(data), "--output-path", out]) == 0
    assert spark.read.parquet(f"{out}/extracted_ords").count() == 12
    assert len(list(calls.iterdir())) == 4
