"""Command-line surface mirroring the reference's entry points so a
user of ``python -m orderly.extract`` / ``python -m orderly.clean`` /
``python -m orderly.gen_fp`` can switch to ``python -m orderly_spark
extract|clean|gen-fp`` with the same flag vocabulary.

Flag names follow the reference CLIs (extract: main.py:239-454;
clean: cleaner.py:948-1196; gen_fp: fingerprints.py CLI) with
dashes; each subcommand writes the same artifacts (extracted parquet
partitioned by source file + molecule-name CSV; train/test parquet;
fingerprint parquet) plus the reference's config-json lineage record
(S12, main.py:597-610 / cleaner.py:1325-1347).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _bool_flag(p: argparse.ArgumentParser, name: str, default: bool, help: str) -> None:
    p.add_argument(f"--{name}", dest=name.replace("-", "_"), action=argparse.BooleanOptionalAction, default=default, help=help)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="orderly_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("extract", help="ORD files -> extracted reaction parquet (reference: orderly.extract)")
    e.add_argument("--data-path", required=True, help="root dir of ORD dataset files")
    e.add_argument("--ord-file-ending", default="*.pb.gz", help="source glob (reference: ord_file_ending)")
    e.add_argument("--output-path", required=True)
    _bool_flag(e, "trust-labelling", False, "keep dataset role labels instead of re-deriving from the rxn string")
    _bool_flag(e, "consider-molecule-names", True, "emit the unresolved molecule-name CSV side output")
    e.add_argument("--name-contains-substring", default=None, help="only files whose name contains this (e.g. uspto)")
    _bool_flag(e, "inverse-substring", False, "invert the substring filter")
    e.add_argument("--solvents-path", default=None, help="solvents.csv override (default: the packaged 615-row dimension)")
    e.add_argument(
        "--decoder",
        choices=["auto", "proto", "json"],
        default="auto",
        help="file decoder: ORD protobuf (pure-Python wire codec) or the gzip JSON-lines format; auto = proto",
    )

    c = sub.add_parser("clean", help="extracted parquet -> cleaned train/test parquet (reference: orderly.clean)")
    c.add_argument("--ord-extraction-path", required=True)
    c.add_argument("--molecules-to-remove-path", required=True, help="name-list CSV of unresolvable identifiers")
    c.add_argument("--output-path", required=True)
    c.add_argument("--num-reactant", type=int, default=5)
    c.add_argument("--num-product", type=int, default=5)
    c.add_argument("--num-solv", type=int, default=2)
    c.add_argument("--num-agent", type=int, default=3)
    c.add_argument("--num-cat", type=int, default=0)
    c.add_argument("--num-reag", type=int, default=0)
    _bool_flag(c, "consistent-yield", True, "enforce per-row yield consistency (P6)")
    c.add_argument("--min-frequency-of-occurrence", type=int, default=100)
    _bool_flag(c, "map-rare-molecules-to-other", False, "map rare to 'other' instead of dropping rows")
    _bool_flag(c, "set-unresolved-names-to-none-if-mapped-rxn-str-exists-else-del-rxn", True, "unresolved-name mode a")
    _bool_flag(c, "remove-rxn-with-unresolved-names", False, "unresolved-name mode b")
    _bool_flag(c, "set-unresolved-names-to-none", False, "unresolved-name mode c")
    _bool_flag(c, "drop-duplicates", True, "seeded-survivor dedup (A6)")
    _bool_flag(c, "scramble", True, "deterministic per-row role-order scramble (F16)")
    c.add_argument("--train-test-split-fraction", type=float, default=0.9)
    c.add_argument("--random-seed", type=int, default=12345)

    g = sub.add_parser("gen-fp", help="cleaned parquet -> Morgan fingerprint columns (reference: orderly.gen_fp)")
    g.add_argument("--clean-data-path", required=True, help="train or test parquet from `clean`")
    g.add_argument("--output-path", required=True)
    g.add_argument("--fp-size", type=int, default=2048)
    g.add_argument("--radius", type=int, default=3)
    g.add_argument(
        "--reactant-slots",
        type=int,
        default=None,
        help="max reactants per row to fingerprint. Default: read the "
        "clean stage's --num-reactant cap from the clean_config.json "
        "written next to the data (falls back to 5 if absent); an "
        "explicit value overrides. Under-sized slots are detected and "
        "reported (see gen-fp guard)",
    )
    g.add_argument(
        "--npy-output-path",
        default=None,
        help="also export the rxn_fp matrix as a dense .npy in original_index order "
        "(the reference gen_fp artifact, fingerprints.py:50-54; collect-side)",
    )
    return p


def _dump_config(args: argparse.Namespace, out_dir: str, name: str) -> None:
    """S12 lineage record. Written with local file IO — valid for
    local/NFS output paths only; for an object-store output_path
    (s3://, hdfs://) this would land on the driver's local disk
    instead of next to the data (known limitation; route through the
    Hadoop FS API when a remote deployment needs it)."""
    from orderly_spark.functions.smiles import CANON_VERSION

    cfg = {k: v for k, v in vars(args).items() if k != "cmd"}
    # r14 (VERDICT item 6): record the canonicalisation version so
    # persisted canonical-SMILES columns can be detected as stale when
    # re-runs mix engine versions (r13 changed pure-cycle spellings,
    # r14 added stereo tags) — at 100 TB a silent version mix across
    # incremental re-runs is a data-drift class, not a cosmetic.
    cfg["canon_version"] = CANON_VERSION
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    (Path(out_dir) / name).write_text(json.dumps(cfg, indent=2, default=str))


def cmd_extract(args: argparse.Namespace) -> int:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from orderly_spark.operators.extract import extract_reactions, molecule_name_side_output
    from orderly_spark.session import get_spark
    from orderly_spark.sources import solvents as SV
    from orderly_spark.sources.ord import (
        decode_reactions,
        json_decoder,
        proto_decoder,
        save_name_list,
        scan_ord_files,
        write_extracted,
    )

    spark = get_spark("orderly_spark.extract")
    files = scan_ord_files(spark, args.data_path, glob=args.ord_file_ending)
    if args.name_contains_substring:
        # normalised FILENAME match (reference extractor.py:84-95) —
        # a raw full-path contains() also matched directory names and
        # was case-sensitive (review finding; rxn.filename_contains
        # existed for exactly this)
        from orderly_spark.functions.rxn import filename_contains

        files = files.filter(
            filename_contains(
                F.col("path"), args.name_contains_substring, inverse=args.inverse_substring
            )
        )
    # 'auto' is the wire-format protobuf decoder (r10: pure-Python
    # codec, no ord-schema needed); 'json' selects the JSON-lines
    # format explicitly
    decoder = json_decoder if args.decoder == "json" else proto_decoder
    decoded = decode_reactions(files, decoder=decoder)
    dim = (
        SV.load_solvents_csv(spark, args.solvents_path)
        if args.solvents_path
        else SV.default_solvents(spark)
    )
    # tiny dimension (~615 rows): collect once, ship as a literal array
    # (the broadcast-set J1 shape; extractor.py:546-593)
    smiles = SV.solvent_smiles_set(dim).collect()[0].solvent_set
    sset = F.array(*[F.lit(s) for s in smiles]) if smiles else None
    if args.consider_molecule_names:
        # two consumers (the extracted write and the name side output):
        # keep the decoded rows so each file is decoded once
        decoded = decoded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        extracted = extract_reactions(decoded, solvent_set=sset, trust_labelling=args.trust_labelling)
        write_extracted(extracted, f"{args.output_path}/extracted_ords")
        if args.consider_molecule_names:
            # the side output must see the DECODED (pre-filter) data:
            # the extract transform strips exactly the numeric/empty
            # names this list exists to record
            names = molecule_name_side_output(decoded)
            save_name_list(names, f"{args.output_path}/molecule_names")
    finally:
        decoded.unpersist()
    _dump_config(args, args.output_path, "extract_config.json")
    n = spark.read.parquet(f"{args.output_path}/extracted_ords").count()
    print(f"extracted {n} reactions -> {args.output_path}/extracted_ords")
    return 0


def cmd_clean(args: argparse.Namespace) -> int:
    from orderly_spark.operators import cleaning as C
    from orderly_spark.session import get_spark
    from orderly_spark.sources.ord import load_name_list

    modes = [
        args.set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn,
        args.remove_rxn_with_unresolved_names,
        args.set_unresolved_names_to_none,
    ]
    if sum(modes) != 1:  # mode exclusivity assert, cleaner.py:89-95
        print("exactly one unresolved-name mode must be set", file=sys.stderr)
        return 2
    spark = get_spark("orderly_spark.clean")
    cfg = C.CleanConfig(
        num_reactant=args.num_reactant,
        num_product=args.num_product,
        num_solv=args.num_solv,
        num_agent=args.num_agent,
        num_cat=args.num_cat,
        num_reag=args.num_reag,
        consistent_yield=args.consistent_yield,
        min_frequency_of_occurrence=args.min_frequency_of_occurrence,
        map_rare_molecules_to_other=args.map_rare_molecules_to_other,
        set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=modes[0],
        remove_rxn_with_unresolved_names=modes[1],
        set_unresolved_names_to_none=modes[2],
        drop_duplicates=args.drop_duplicates,
        scramble=args.scramble,
        train_test_split_fraction=args.train_test_split_fraction,
        seed=args.random_seed,
    )
    df = C.merge_extracted(spark, args.ord_extraction_path)
    names = load_name_list(spark, args.molecules_to_remove_path)
    cleaned = C.clean_pipeline(df, names, cfg)
    train, test = C.train_test_split(cleaned, cfg)
    train.write.mode("overwrite").parquet(f"{args.output_path}/train.parquet")
    test.write.mode("overwrite").parquet(f"{args.output_path}/test.parquet")
    _dump_config(args, args.output_path, "clean_config.json")
    spark_train = spark.read.parquet(f"{args.output_path}/train.parquet").count()
    spark_test = spark.read.parquet(f"{args.output_path}/test.parquet").count()
    print(f"cleaned -> {spark_train} train / {spark_test} test rows in {args.output_path}")
    return 0


def _clean_stage_reactant_cap(clean_data_path: str) -> int | None:
    """Read the clean stage's --num-reactant cap from the
    clean_config.json that cmd_clean writes next to its train/test
    parquet (the S12 lineage record). Returns None when no config is
    findable (data produced outside this CLI)."""
    p = Path(clean_data_path)
    for d in (p, p.parent):
        cfg = d / "clean_config.json"
        try:
            return int(json.loads(cfg.read_text())["num_reactant"])
        except (OSError, ValueError, KeyError, TypeError, json.JSONDecodeError):
            # TypeError: valid JSON of the wrong shape, e.g.
            # {"num_reactant": null} or a top-level list (review r6)
            continue
    return None


def cmd_gen_fp(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from orderly_spark.functions import chem
    from orderly_spark.session import get_spark

    spark = get_spark("orderly_spark.gen_fp")
    df = spark.read.parquet(args.clean_data_path)
    # product_fp - Σ reactant fps, concat(diff, product) = 2*fp_size
    # wide (fingerprints.py:59-74). The slot count defaults to the cap
    # the clean stage ran with, read from its clean_config.json lineage
    # record; an explicit --reactant-slots overrides. Slots past a
    # row's last reactant subtract nothing, so an over-estimate is free.
    explicit = args.reactant_slots is not None
    if explicit:
        slots = args.reactant_slots
    else:
        cap = _clean_stage_reactant_cap(args.clean_data_path)
        if cap is None:
            print(
                "gen-fp: no clean_config.json next to the data; "
                "defaulting --reactant-slots to 5",
                file=sys.stderr,
            )
        slots = cap if cap is not None else 5
    max_r = max(slots, 0)
    # Loud under-sizing guard at ZERO extra passes: an Observation on
    # the SAME job that writes the fingerprints counts rows with more
    # reactants than slots (an eager pre-scan would re-read the whole
    # input — the extra-read class the r4 review removed; review r6).
    # The metric is read after the write, so on violation the command
    # fails AFTER producing output — rc=2 means disregard the output.
    from pyspark.sql import Observation

    guard = Observation("genfp_slot_guard")
    df = df.observe(
        guard, F.count(F.when(F.size("reactants") > max_r, 1)).alias("n_over")
    )
    out = chem.reaction_fingerprints(df, n_bits=args.fp_size, radius=args.radius, slots=max_r)
    out.write.mode("overwrite").parquet(args.output_path)
    over = guard.get["n_over"]
    if over:
        msg = (
            f"gen-fp: {over} rows have more than {max_r} reactants; "
            "their extra reactants were OMITTED from the fingerprint "
            "difference"
        )
        if explicit:
            print(f"WARNING: {msg} (explicit --reactant-slots)", file=sys.stderr)
        else:
            # remove the mis-fingerprinted output so a consumer that
            # ignores rc=2 cannot read it (review r6: overwrite had
            # already replaced any previous good dataset; leaving the
            # bad one behind made the failure silent downstream)
            import shutil

            shutil.rmtree(args.output_path, ignore_errors=True)
            print(
                f"ERROR: {msg}; the mis-fingerprinted output at "
                f"{args.output_path} was removed — pass --reactant-slots "
                "to override",
                file=sys.stderr,
            )
            return 2
    n = spark.read.parquet(args.output_path).count()
    print(f"fingerprints ({2 * args.fp_size} wide) for {n} rows -> {args.output_path}")
    if args.npy_output_path:
        back = spark.read.parquet(args.output_path)
        shape = chem.export_fingerprint_matrix_npy(
            back, "rxn_fp", args.npy_output_path, "original_index"
        )
        print(f"npy matrix {shape} -> {args.npy_output_path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return {"extract": cmd_extract, "clean": cmd_clean, "gen-fp": cmd_gen_fp}[args.cmd](args)
