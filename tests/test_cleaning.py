"""Literal-fixture unit tests for the clean pipeline (the reference's
tier-1 test style, SURVEY §5.1): tiny hand-written reaction rows with
exact expected outputs, plus distribution-invariance checks no pandas
reference can express (same result under repartitioning)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orderly_spark.operators import cleaning as C
from orderly_spark.schema import REACTION_SCHEMA, array_to_wide, wide_to_array


def rx_rows(spark, rows):
    """rows: list of dicts with role lists; fills schema defaults."""
    base = {
        "rxn_str": None,
        "reactants": [],
        "agents": [],
        "reagents": [],
        "solvents": [],
        "catalysts": [],
        "products": [],
        "yields": [],
        "temperature": None,
        "rxn_time": None,
        "procedure_details": None,
        "date_of_experiment": None,
        "grant_date": None,
        "is_mapped": False,
        "extracted_from_file": "f0",
    }
    full = []
    for i, r in enumerate(rows):
        d = dict(base, **r)
        full.append(d)
    df = spark.createDataFrame(full, schema=REACTION_SCHEMA)
    return df.withColumn(
        "original_index",
        F.row_number().over(__import__("pyspark").sql.Window.orderBy(F.monotonically_increasing_id())) - 1,
    )


def ids(df):
    return sorted(r.original_index for r in df.select("original_index").collect())


def test_trim_components(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a", "b"], "products": ["p"], "agents": ["g"]},
            {"reactants": ["a", "b", "c"], "products": ["p"], "agents": ["g"]},
        ],
    )
    cfg = C.CleanConfig(num_reactant=2, num_product=5, num_solv=2, num_agent=3)
    assert ids(C.trim_components(df, cfg)) == [0]


def test_require_core_components(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},  # keep
            {"reactants": [], "products": ["p"], "agents": ["g"]},  # no reactant
            {"reactants": ["a"], "products": [], "agents": ["g"]},  # no product
            {"reactants": ["a"], "products": ["p"]},  # no condition
        ],
    )
    assert ids(C.require_core_components(df)) == [0]


def test_reactants_equal_products_filter(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["b", "a", "a"], "products": ["a", "b"], "agents": ["g"]},  # set-equal → drop
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},
        ],
    )
    assert ids(C.remove_reactants_equal_products(df)) == [1]


def test_yield_consistency(spark):
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p", "q"], "yields": [60.0, 30.0]},  # ok
            {"reactants": ["a"], "products": ["p", "q"], "yields": [60.0, 50.0]},  # sum>100
            {"reactants": ["a"], "products": ["p"], "yields": [101.0]},  # out of range
            {"reactants": ["a"], "products": ["p"], "yields": [None]},  # null ok
        ],
    )
    assert ids(C.enforce_yield_consistency(df)) == [0, 3]


def test_unresolved_names_modes(spark):
    rows = [
        {"reactants": ["bad", "a"], "products": ["p"], "is_mapped": True},
        {"reactants": ["bad", "a"], "products": ["p"], "is_mapped": False},
        {"reactants": ["a"], "products": ["p"], "is_mapped": False},
    ]
    names = spark.createDataFrame([("bad",)], "name string")

    df = rx_rows(spark, rows)
    # mode (b): drop rows containing an unresolved name
    cfg_b = C.CleanConfig(
        set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=False,
        remove_rxn_with_unresolved_names=True,
    )
    assert ids(C.handle_unresolved_names(df, names, cfg_b)) == [2]

    # mode (a): mapped rows keep (cleaned), unmapped rows with bad dropped
    out_a = C.handle_unresolved_names(df, names, C.CleanConfig())
    got = {r.original_index: r.reactants for r in out_a.collect()}
    assert got == {0: ["a"], 2: ["a"]}

    # mode (c): everyone kept, bad removed
    cfg_c = C.CleanConfig(
        set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=False,
        set_unresolved_names_to_none=True,
    )
    out_c = C.handle_unresolved_names(df, names, cfg_c)
    got = {r.original_index: r.reactants for r in out_c.collect()}
    assert got == {0: ["a"], 1: ["a"], 2: ["a"]}


def test_unresolved_drop_single_pass_edges(spark):
    """r16: mode (b) is a single pass (explode_outer + broadcast flag
    join + collapse-by-id) — pin the edge rows the old explode→semi→
    anti shape handled implicitly: a row with NO members anywhere
    (explode_outer must still emit it), NULL role arrays, and a NULL
    member inside an array (never matches the name set) all survive;
    a bad member in ANY role still drops the whole row. Also pin that
    the collapse preserves every column value byte-for-byte."""
    rows = [
        {},  # zero members in every role — must survive the explode
        {"reactants": None, "products": None},  # NULL arrays
        {"reactants": ["a", None], "products": ["p"], "yields": [1.0]},
        {"solvents": ["bad"], "reactants": ["a"], "products": ["p"]},
        {"products": ["bad"], "reactants": ["a"], "yields": [2.0]},
    ]
    names = spark.createDataFrame([("bad",)], "name string")
    cfg_b = C.CleanConfig(
        set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=False,
        remove_rxn_with_unresolved_names=True,
    )
    df = rx_rows(spark, rows)
    out = C.handle_unresolved_names(df, names, cfg_b)
    assert ids(out) == [0, 1, 2]
    assert out.columns == df.columns
    got = {r.original_index: r for r in out.collect()}
    exp = {r.original_index: r for r in df.collect() if r.original_index in (0, 1, 2)}
    assert got == exp


def test_rename_catalysts_to_reagents(spark):
    df = rx_rows(spark, [{"reagents": ["r1"], "catalysts": ["c1", "c2"]}])
    out = C.rename_catalysts_to_reagents(df).collect()[0]
    assert out.reagents == ["r1", "c1", "c2"] and out.catalysts == []


def test_dedup_random_survivor_partition_invariant(spark):
    rows = [
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["a"], "products": ["p"]},
        {"reactants": ["b"], "products": ["p"]},
    ]
    df = rx_rows(spark, rows)
    cfg = C.CleanConfig(dedup_subset_roles=["reactants", "products"])
    first = ids(C.dedup_reactions(df, cfg))
    assert len(first) == 2  # one survivor per key
    # survivor is a pure function of (data, seed): invariant under partitioning
    again = ids(C.dedup_reactions(df.repartition(7), cfg))
    assert first == again
    # different seed may pick a different survivor but still one per key
    other = ids(C.dedup_reactions(df, C.CleanConfig(seed=99, dedup_subset_roles=["reactants", "products"])))
    assert len(other) == 2


def test_rare_molecule_handling(spark):
    rows = [
        {"reactants": ["x"], "products": ["p"], "agents": ["common"], "solvents": ["rare1"]},
        {"reactants": ["x"], "products": ["p"], "agents": ["common"]},
        {"reactants": ["x"], "products": ["p"], "agents": ["common"]},
    ]
    df = rx_rows(spark, rows)
    counts = {r.molecule: r["count"] for r in C.condition_value_counts(df).collect()}
    assert counts == {"common": 3, "rare1": 1}

    removed = C.remove_rows_with_rare_molecules(df, C.condition_value_counts(df), 2)
    assert ids(removed) == [1, 2]

    mapped = C.map_rare_molecules_to_other(df, C.condition_value_counts(df), 2)
    got = {r.original_index: r.solvents for r in mapped.collect()}
    assert got[0] == ["other"]


def test_scramble_preserves_multiset_and_is_deterministic(spark):
    rows = [{"reactants": ["a", "b", "c", "d"], "products": ["p"]}]
    df = rx_rows(spark, rows)
    out1 = C.scramble_role_lists(df, C.CleanConfig()).collect()[0].reactants
    out2 = C.scramble_role_lists(df.repartition(3), C.CleanConfig()).collect()[0].reactants
    assert sorted(out1) == ["a", "b", "c", "d"]
    assert out1 == out2  # deterministic across partitionings


def test_train_test_split_no_leakage(spark):
    rows = [{"reactants": [f"m{i % 20}"], "products": ["p"], "agents": ["g"]} for i in range(200)]
    df = rx_rows(spark, rows)
    train, test = C.train_test_split(df, C.CleanConfig())
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 200
    # leakage repair: no reaction hash in both sides
    th = train.select(C.reaction_hash(train).alias("h")).distinct()
    eh = test.select(C.reaction_hash(test).alias("h")).distinct()
    assert th.join(eh, "h", "inner").count() == 0


def test_wide_array_round_trip(spark):
    wide = spark.createDataFrame(
        [("r1", "<missing>", "p1", "p2", 50.0, None, "f")],
        "reactant_000 string, reactant_001 string, product_000 string, product_001 string, "
        "yield_000 double, yield_001 double, extracted_from_file string",
    )
    arr = wide_to_array(wide).collect()[0]
    assert arr.reactants == ["r1"]  # sentinel dropped
    assert arr.products == ["p1", "p2"]
    assert arr.yields == [50.0, None]  # alignment kept, null slot preserved

    back = array_to_wide(
        wide_to_array(wide), {"reactant": 2, "product": 2, "yield": 2}
    ).collect()[0]
    assert back.reactant_000 == "r1" and back.reactant_001 is None
    assert back.yield_000 == 50.0 and back.yield_001 is None


def test_observation_telemetry_no_extra_action(spark):
    """A7: stage row counts ride the single action via Observation."""
    df = rx_rows(
        spark,
        [
            {"reactants": ["a"], "products": ["p"], "agents": ["g"]},
            {"reactants": [], "products": ["p"], "agents": ["g"]},
        ],
    )
    observed_df, obs = C.observed(C.require_core_components(df), "post_core")
    n_out = observed_df.count()  # the ONLY action
    assert n_out == 1
    assert obs.get["rows"] == 1


def test_map_rare_to_other_literal_and_join_paths_agree(spark):
    """A4's two membership machineries — the InSet literal (frequent
    set collected, the default) and the pure-join rebuild (no driver
    state, the LLM-vocabulary path) — must produce identical arrays,
    including empty-role rows and order preservation."""
    df = rx_rows(
        spark,
        [
            {"rxn_str": "a", "agents": ["x", "y", "x"], "solvents": ["z"]},
            {"rxn_str": "b", "agents": ["y"], "solvents": []},
            {"rxn_str": "c", "agents": [], "solvents": []},
            {"rxn_str": "d", "agents": ["w", "y", "q"], "solvents": ["y"]},
            # NULL member must be PRESERVED by BOTH paths (review
            # finding, r8: the join path rewrote it to 'other'
            # because NULL never matches the freq equi-join)
            {"rxn_str": "e", "agents": ["y", None], "solvents": []},
        ],
    )
    counts = C.condition_value_counts(df)
    a = C.map_rare_molecules_to_other(df, counts, min_freq=2)
    b = C.map_rare_molecules_to_other_join(df, counts, min_freq=2)
    cols = ["rxn_str", *C.CONDITION_ROLES]
    ra = {r["rxn_str"]: r for r in a.select(*cols).collect()}
    rb = {r["rxn_str"]: r for r in b.select(*cols).collect()}
    assert set(ra) == set(rb) == {"a", "b", "c", "d", "e"}
    for k in ra:
        for role in C.CONDITION_ROLES:
            assert list(ra[k][role] or []) == list(rb[k][role] or []), (k, role)
    # y (count 5) and x (count 2) survive; z/w/q (count 1) -> 'other'
    assert list(ra["a"]["agents"]) == ["x", "y", "x"]
    assert list(ra["a"]["solvents"]) == ["other"]
    assert list(ra["d"]["agents"]) == ["other", "y", "other"]
    assert list(ra["e"]["agents"]) == ["y", None]  # NULL preserved, both paths


def test_reaction_key_member_boundaries_cannot_collide(spark):
    """Review regression: ['CC.O'] vs ['CC','O'] — SMILES salts contain
    '.', so the key must encode member boundaries, not rely on the
    separator. The reference compares slot columns pairwise and has no
    such collision; neither may the key."""
    from orderly_spark.operators.cleaning import reaction_key

    df = spark.createDataFrame(
        [(1, ["CC.O"], ["p"]), (2, ["CC", "O"], ["p"])],
        "rid long, reactants array<string>, products array<string>",
    )
    keys = {
        r.rid: r.k
        for r in df.withColumn("k", reaction_key(df, ["reactants", "products"]))
        .select("rid", "k")
        .collect()
    }
    assert keys[1] != keys[2]


def test_expr_helpers_quote_column_names_with_backticks(spark):
    """The SQL-string expression builders quote column names; a name
    holding a backtick must be escaped (doubled), not end the quote."""
    name = "re`act"
    df = spark.createDataFrame(
        [(1, ["CC", None, "O"], ["p"])],
        "original_index long, r array<string>, products array<string>",
    ).withColumnRenamed("r", name)
    plain = df.withColumnRenamed(name, "r")

    packed = df.select(C._pack_row(df.columns).alias("__row"))
    back = C._unpack_row(packed, df.columns)
    assert back.columns == df.columns and back.collect() == df.collect()
    assert df.select(C._arr(name).alias("a")).first().a == ["CC", None, "O"]

    def key(frame, role):
        return frame.select(C.reaction_key(frame, [role, "products"]).alias("k")).first().k

    assert key(df, name) == key(plain, "r")
    cfg = C.CleanConfig()
    scrambled = C.scramble_role_lists(df, cfg, roles=[name]).first()[name]
    assert scrambled == C.scramble_role_lists(plain, cfg, roles=["r"]).first()["r"]


def test_merge_extracted_index_deterministic_with_duplicate_rxn(spark, tmp_path):
    """Review regression: rows sharing rxn_str within one file used to
    tie on the order key, leaving original_index to physical partition
    order. The full-row fingerprint tiebreak makes the index a pure
    function of the data across partitionings."""
    import pyspark.sql.functions as F

    from orderly_spark.operators import cleaning as C
    from orderly_spark.sources.ord import write_extracted

    rows = [
        (i, "dup" if i % 3 == 0 else f"rx{i}", f"f{i % 2}", f"detail{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "rid long, rxn_str string, extracted_from_file string, procedure_details string"
    )
    outs = []
    for parts in (1, 7):
        d = str(tmp_path / f"p{parts}") + "/extracted"
        write_extracted(df.repartition(parts), d)
        merged = C.merge_extracted(spark, d)
        outs.append(
            sorted((r.rid, r.original_index) for r in merged.select("rid", "original_index").collect())
        )
    assert outs[0] == outs[1]
    # index is a contiguous 0..n-1 permutation
    assert sorted(i for _, i in outs[0]) == list(range(30))


def test_wide_to_array_pairs_yields_by_suffix(spark):
    """Review regression: with yield_000 absent (dropped by a writer),
    yield_001 must still attach to product_001 — positional zip of the
    two sorted lists attributed it to product_000."""
    from orderly_spark.schema import wide_to_array

    df = spark.createDataFrame(
        [("rx", "pA", "pB", 55.0)],
        "rxn_str string, product_000 string, product_001 string, yield_001 double",
    )
    row = wide_to_array(df).select("products", "yields").head()
    assert row.products == ["pA", "pB"]
    assert row.yields[0] is None and row.yields[1] == 55.0


def test_wide_to_array_merges_mixed_layout_rows(spark):
    """mergeSchema over a directory mixing array-model and wide-model
    files yields BOTH layouts with per-row NULLs (review finding, r8:
    the old code silently dropped the wide rows' data whenever the
    array column existed). Each row must keep whichever model its
    source file wrote."""
    from pyspark.sql import functions as F

    from orderly_spark.schema import wide_to_array

    df = spark.createDataFrame(
        [
            # array-model row: arrays set, wide cols NULL
            (0, ["r1"], ["p1"], [50.0], None, None, None),
            # wide-model row: wide cols set, arrays NULL
            (1, None, None, None, "r2", "p2", 60.0),
        ],
        "rid long, reactants array<string>, products array<string>, yields array<double>, "
        "reactant_000 string, product_000 string, yield_000 double",
    )
    got = {r.rid: r for r in wide_to_array(df).collect()}
    assert list(got[0].reactants) == ["r1"]
    assert list(got[0].products) == ["p1"] and list(got[0].yields) == [50.0]
    assert list(got[1].reactants) == ["r2"]
    assert list(got[1].products) == ["p2"] and list(got[1].yields) == [60.0]
    # idempotent: second application is a no-op (wide cols consumed)
    twice = wide_to_array(wide_to_array(df))
    assert {r.rid: (list(r.products), list(r.yields)) for r in twice.collect()} == {
        0: (["p1"], [50.0]),
        1: (["p2"], [60.0]),
    }


def test_array_to_wide_pads_absent_roles_and_avoids_collisions(spark):
    """Absent roles emit NULL-padded slots (the export schema never
    silently shrinks) and pre-existing wide names cannot collide with
    generated columns (review finding, r8)."""
    from orderly_spark.schema import array_to_wide

    df = spark.createDataFrame(
        [(1, ["p1"], "stale")],
        "rid long, products array<string>, product_000 string",
    )
    out = array_to_wide(df, {"product": 2, "reactant": 1})
    assert out.columns.count("product_000") == 1  # no duplicate
    row = out.collect()[0]
    assert row["product_000"] == "p1" and row["product_001"] is None
    assert row["reactant_000"] is None  # absent role: padded, not dropped


def test_array_to_wide_preserves_existing_wide_data_without_array(spark):
    """r9 advice fix: a role listed in counts whose ARRAY column is
    absent but whose wide column already carries data must pass that
    column through — the r8 collision exclusion removed it from
    passthrough and re-emitted NULL over it, silently destroying it."""
    from orderly_spark.schema import array_to_wide

    df = spark.createDataFrame(
        [(1, ["p1"], "keep-me", 42.5)],
        "rid long, products array<string>, reactant_000 string, yield_000 double",
    )
    out = array_to_wide(df, {"product": 1, "reactant": 2, "yield": 1})
    row = out.collect()[0]
    assert row["product_000"] == "p1"
    assert row["reactant_000"] == "keep-me"  # pre-existing wide data survives
    assert row["reactant_001"] is None       # truly sourceless slot NULL-pads
    assert row["yield_000"] == 42.5
    assert out.columns.count("reactant_000") == 1


def test_rare_stage_routes_on_frequent_set_size(spark):
    """r10 probe P3 finding institutionalized: the pipeline's
    map-to-other stage uses the InSet literal only while |frequent| <=
    _RARE_LITERAL_MAX (py4j expression build is ~2 ms per literal per
    role — 29 s at 13 k entries), and the zero-driver-state join
    rebuild beyond it. Pinned on the PLAN: the literal path carries an
    INSET, the join path must not."""
    from pyspark.sql import functions as F

    from orderly_spark.plans.audit import formatted_plan

    def frame(n_distinct):
        # every molecule appears k=2 times -> all n_distinct frequent
        rows = [
            (i, ["C"], [f"a{i % n_distinct}"], [], [], [], ["O"], [None], None, False, i)
            for i in range(2 * n_distinct)
        ]
        return spark.createDataFrame(
            rows,
            "rid long, reactants array<string>, agents array<string>, "
            "reagents array<string>, solvents array<string>, catalysts array<string>, "
            "products array<string>, yields array<double>, rxn_str string, "
            "is_mapped boolean, original_index long",
        )

    names = spark.createDataFrame([("zzz-none",)], "name string")
    cfg = C.CleanConfig(
        consistent_yield=False, min_frequency_of_occurrence=2,
        map_rare_molecules_to_other=True, drop_duplicates=False,
        scramble=False,
    )
    # 20 distinct: above OptimizeIn's InSet conversion threshold (10),
    # below _RARE_LITERAL_MAX — the literal path, as an INSET
    small = C.clean_pipeline(frame(20), names, cfg)
    assert "INSET" in formatted_plan(small).upper()
    big = C.clean_pipeline(frame(C._RARE_LITERAL_MAX + 10), names, cfg)
    assert "INSET" not in formatted_plan(big).upper()
    # and both keep every (frequent) member intact
    assert small.count() == 40
    assert big.count() == 2 * (C._RARE_LITERAL_MAX + 10)


def test_unresolved_nullout_join_equals_literal_path(spark):
    """r10: the join-based P11 null-out must EXACTLY equal the literal
    path on a seeded random corpus including the edge shapes the
    docstring pins: NULL members, NULL role arrays (stay NULL for
    scalar roles, [] for products), arrays_zip padding in both
    directions, bad names in every role, and rows with nothing bad.
    Both modes (a) and (c) are compared."""
    import random

    rng = random.Random(31)
    bad_names = [f"bad{i}" for i in range(40)]
    pool = bad_names + [f"ok{i}" for i in range(60)] + [None]

    def arr(max_n):
        if rng.random() < 0.15:
            return None
        return [rng.choice(pool) for _ in range(rng.randint(0, max_n))]

    rows = []
    for i in range(400):
        prods = arr(3)
        n_y = rng.choice([0, 1, 2, 3, 4])  # deliberately mis-sized vs prods
        rows.append(
            (
                i,
                arr(3), arr(3), arr(2), arr(2), arr(2),
                prods,
                None if rng.random() < 0.2 else [
                    None if rng.random() < 0.3 else float(rng.randint(0, 100))
                    for _ in range(n_y)
                ],
                None,
                rng.random() < 0.5,
                i,
            )
        )
    df = spark.createDataFrame(
        rows,
        "rid long, reactants array<string>, agents array<string>, "
        "reagents array<string>, solvents array<string>, catalysts array<string>, "
        "products array<string>, yields array<double>, rxn_str string, "
        "is_mapped boolean, original_index long",
    )
    names = spark.createDataFrame([(n,) for n in bad_names], "name string")
    names_d = names.distinct()

    for mode_kw in (
        dict(set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=True,
             remove_rxn_with_unresolved_names=False, set_unresolved_names_to_none=False),
        dict(set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn=False,
             remove_rxn_with_unresolved_names=False, set_unresolved_names_to_none=True),
    ):
        cfg = C.CleanConfig(**mode_kw)
        lit_out = C.handle_unresolved_names(df.drop("original_index"), names, cfg)
        # literal path forced via missing id col; join path direct
        joined = C._unresolved_nullout_join(df, names_d)
        if cfg.set_unresolved_names_to_none:
            join_out = joined.drop("__has_bad")
        else:
            join_out = joined.filter(
                F.col("is_mapped") | ~F.col("__has_bad")
            ).drop("__has_bad")
        cols = ["rid", "reactants", "agents", "reagents", "solvents",
                "catalysts", "products", "yields", "is_mapped"]
        got = sorted(map(tuple, join_out.select(cols).collect()))
        want = sorted(map(tuple, lit_out.select(cols).collect()))
        assert got == want, (mode_kw, [p for p in zip(got, want) if p[0] != p[1]][:3])


def test_unresolved_routing_threshold(spark):
    """handle_unresolved_names routes to the join path past
    _RARE_LITERAL_MAX distinct names (plan has a join, no INSET/IN
    literal list), and stays on the literal path below it."""
    from orderly_spark.plans.audit import formatted_plan

    rows = [(i, ["C"], [f"a{i}"], [], [], [], ["O"], [None], None, False, i)
            for i in range(20)]
    df = spark.createDataFrame(
        rows,
        "rid long, reactants array<string>, agents array<string>, "
        "reagents array<string>, solvents array<string>, catalysts array<string>, "
        "products array<string>, yields array<double>, rxn_str string, "
        "is_mapped boolean, original_index long",
    )
    cfg = C.CleanConfig()  # mode (a)
    small_names = spark.createDataFrame([(f"b{i}",) for i in range(30)], "name string")
    big_names = spark.createDataFrame(
        [(f"b{i}",) for i in range(C._RARE_LITERAL_MAX + 10)], "name string"
    )
    small_plan = formatted_plan(C.handle_unresolved_names(df, small_names, cfg))
    assert "INSET" in small_plan.upper() or " IN (" in small_plan
    big_plan = formatted_plan(C.handle_unresolved_names(df, big_names, cfg))
    assert "INSET" not in big_plan.upper()
    assert "BroadcastHashJoin" in big_plan
