"""The ORDerly clean pipeline (reference: orderly/clean/cleaner.py,
traced in SURVEY §3.2) re-expressed as composable lazy DataFrame
transforms over the array-model reaction schema.

Stage order matches the reference's hard-coded pipeline
(cleaner.py:533-882): merge → unresolved names → catalyst/reagent
remap → component-count trims → non-empty filters → reactants≠products
→ yield consistency → dedup (random survivor) → rare-molecule handling
→ second dedup → scramble → (export pivot handles nulls-last/column
sort). Catalyst fuses the filter stages into one pass; the only
shuffles are the frequency aggregate, the dedup windows, and the
split-hash join — each annotated below with its 100 TB behaviour.

Determinism: the reference relies on seeded numpy RNG + pandas row
order (cleaner.py:796-816, admits platform-dependence at :483). Every
random choice here is re-keyed to md5(data, seed) so results are pure
functions of the data — identical across partitionings, retries and
cluster sizes.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from orderly_spark.schema import MISSING, wide_to_array

CONDITION_ROLES = ("agents", "solvents", "reagents", "catalysts")
ALL_ROLES = ("reactants", "agents", "reagents", "solvents", "catalysts", "products")


@dataclass
class CleanConfig:
    """Knobs mirroring the reference CLI (cleaner.py:948-1196)."""

    num_reactant: int = 5
    num_product: int = 5
    num_solv: int = 2
    num_agent: int = 3
    num_cat: int = 0
    num_reag: int = 0
    consistent_yield: bool = True
    min_frequency_of_occurrence: int = 100
    map_rare_molecules_to_other: bool = False  # False → remove rows (cleaner.py:370-396)
    set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn: bool = True
    remove_rxn_with_unresolved_names: bool = False
    set_unresolved_names_to_none: bool = False
    drop_duplicates: bool = True
    scramble: bool = True
    train_test_split_fraction: float = 0.9
    seed: int = 12345
    dedup_subset_roles: Sequence[str] = field(
        default_factory=lambda: ["reactants", "agents", "reagents", "solvents", "catalysts", "products"]
    )


# ---------------------------------------------------------------------------
# S6 — merge
# ---------------------------------------------------------------------------

def merge_extracted(spark, parquet_dir: str) -> DataFrame:
    """Read all extracted parquets as one DataFrame (union implicit in
    the multi-file scan), normalise sentinels, pivot to the array
    model, and add ``original_index`` (cleaner.py:98-135).

    The contiguous global index is built in two phases so no stage
    ever funnels the whole dataset through one task (the naive
    ``row_number() OVER (ORDER BY …)`` does exactly that):

    1. per-file position — ``row_number`` partitioned by
       ``extracted_from_file`` (parallel across files);
    2. per-file offset — running sum over the per-file COUNTS
       (one row per file; its global window sorts #files rows, not
       #rows) broadcast-joined back.

    ``offset + position`` reproduces the exact total order of the
    single-window formulation (file asc, md5(rxn_str) asc within
    file), so parity is unchanged. The counts subtree re-scans only
    the pruned ``extracted_from_file`` column.
    """
    df = spark.read.option("mergeSchema", "true").parquet(parquet_dir)
    dtypes = dict(df.dtypes)
    for c in ("date_of_experiment", "grant_date"):
        # pandas-written extraction parquets store timestamp[ns], which
        # the session's nanosAsLong conf surfaces as epoch-nanos longs —
        # restore real (microsecond) timestamps
        if dtypes.get(c) == "bigint":
            # floor division, not DIV (truncation): a pre-1970 value
            # like -1500 ns must become -2 us, not -1 (review finding;
            # pmod keeps the arithmetic exact integers — a double
            # division would lose precision at 1e18-scale nanos)
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"({c} - pmod({c}, 1000)) DIV 1000"))
            )
    # P9 on SCALAR string columns (arrays are cleaned inside
    # wide_to_array) — this call was documented but never wired
    # (review finding): a '<missing>' rxn_str previously flowed
    # through as a real string, diverging from cleaner.py:129-134
    scalar_strings = [
        c for c, t in df.dtypes if t == "string" and c != "extracted_from_file"
    ]
    df = normalize_sentinels(df, scalar_strings)
    df = wide_to_array(df)
    # full-row fingerprint tiebreak: rows sharing rxn_str within a
    # file (USPTO repeats reactions) previously tied on the order
    # key and row_number broke the tie by physical partition order
    # — nondeterministic original_index (review finding). The JSON
    # fingerprint makes the total order a pure function of the
    # data; exact duplicates of ENTIRE rows remain interchangeable
    # (identical fingerprints -> identical downstream behaviour
    # whichever ordinal each copy gets). Timestamp columns enter the
    # fingerprint as unix MICROS, not rendered strings (r9, closing
    # the r8 ledgered ceiling): to_json renders timestamps in the
    # session timeZone, so the survivor choice was conf-dependent
    # across sessions — epoch micros are the same integers under any
    # timeZone. to_json omits null fields either way, so null
    # timestamps keep their old (absent) representation. Exact dtype
    # match: unix_micros accepts only TIMESTAMP — a timestamp_ntz
    # column (e.g. a microsecond pandas/pyarrow parquet read under
    # inferTimestampNTZ=true) would raise DATATYPE_MISMATCH, and NTZ
    # needs no conversion anyway: its to_json rendering carries no
    # zone, so it is already session-timezone-independent.
    fp_fields = [
        F.unix_micros(F.col(c)).alias(c) if t == "timestamp" else F.col(c)
        for c, t in df.dtypes
    ]
    pos_w = Window.partitionBy("extracted_from_file").orderBy(
        F.md5(F.coalesce(F.col("rxn_str"), F.lit(""))),
        F.md5(F.to_json(F.struct(*fp_fields))),
    )
    df = df.withColumn("__pos", F.row_number().over(pos_w) - 1)
    counts = df.groupBy("extracted_from_file").agg(F.count(F.lit(1)).alias("__n"))
    off_w = Window.orderBy("extracted_from_file").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "extracted_from_file",
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"),
    )
    # null-safe join: a partitionBy write round-trips a null partition
    # value back as null, and an inner equi-join would silently drop
    # those rows (the single-window formulation kept them)
    offsets = offsets.withColumnRenamed("extracted_from_file", "__f")
    return (
        df.join(F.broadcast(offsets), F.col("extracted_from_file").eqNullSafe(F.col("__f")))
        .withColumn("original_index", F.col("__off") + F.col("__pos"))
        .drop("__pos", "__off", "__f")
    )


def normalize_sentinels(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P9: `"<missing>"` → null on scalar string columns
    (cleaner.py:129-134); array columns are cleaned by wide_to_array."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.when(F.col(c) == MISSING, None).otherwise(F.col(c)))
    return out


# ---------------------------------------------------------------------------
# P11 — unresolved (non-SMILES) molecule names
# ---------------------------------------------------------------------------

def _ident(c: str) -> str:
    """``c`` as a backtick-quoted SQL identifier for the ``F.expr``
    builders below; an embedded backtick is doubled."""
    return "`" + c.replace("`", "``") + "`"


def _pack_row(cols: Sequence[str]) -> Column:
    """``struct(c1, c2, …)`` over every column, as ONE SQL-parsed
    expression (r16 — same py4j-round-trip rationale as :func:`_arr`;
    SQL struct names its fields by attribute exactly like F.struct)."""
    return F.expr("struct(" + ", ".join(_ident(c) for c in cols) + ")")


def _unpack_row(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Inverse of :func:`_pack_row` on a ``__row`` column: one
    selectExpr call instead of len(cols) Column builds (r16)."""
    return df.selectExpr(*[f"__row.{_ident(c)} AS {_ident(c)}" for c in cols])


def _arr(c: str) -> Column:
    # r16 (optimization round 2): built as ONE SQL-parsed expression.
    # The Column-builder form (F.coalesce(F.col(c), F.array().cast(...)))
    # costs ~10 py4j round trips per call and this helper is invoked
    # dozens of times per pipeline construction; cProfile attributed
    # ~1.6 s of c_clean_pipeline_fullscale's driver time to py4j socket
    # round trips (4,921/query build). F.expr ships the whole subtree
    # in one call and parses to the IDENTICAL expression (coalesce +
    # CAST(array() AS array<string>)); oracle parity re-proven.
    return F.expr(f"coalesce({_ident(c)}, CAST(array() AS array<string>))")


def handle_unresolved_names(df: DataFrame, names: DataFrame, cfg: CleanConfig) -> DataFrame:
    """P11 (cleaner.py:572-657), three mutually exclusive modes:

    a) set→NULL if the row has a mapped rxn_str, else drop the row;
    b) drop any row containing an unresolved name;
    c) set→NULL everywhere.

    ``names`` is one string column ``name`` (a dimension table).

    Membership machinery — chosen for probe cost, not just broadcast
    size. A broadcast MAP is NOT O(1) per lookup: Spark's
    ArrayBasedMapData has no hash index, so element_at linearly scans
    the keys — O(|bad|) per member, measured at ~8 s for 1.5k names ×
    1M members at sf0.1. Instead:

    - mode (b), pure row drop: ONE pass — explode members beside the
      packed row, broadcast HASH join the name set for the flag, and
      collapse back by the unique row id (any_value over identical
      copies; partial aggregation re-collapses map-side, so ~1× the
      input rows cross any exchange). Real hash probes, O(1) per
      member, no driver materialisation, and the caller's upstream
      plan is consumed exactly once (the r15 explode→semi→anti shape
      consumed it twice; AQE never matched the copies — r16).
    - modes (a)/(c) need member-level null-out inside array
      transforms, where a join can't reach: the distinct name set is
      collected to a literal IN list, which Catalyst converts to an
      InSet HASH SET (O(1), codegen'd). MEASURED ceiling (r10 — this
      corrects an earlier "10³–10⁶" guess by three orders): the cost
      is not the collect or the execution but PY4J EXPRESSION
      CONSTRUCTION — ``is_bad`` is built at 7 sites (__has_bad +
      5 roles + products) at ~0.8 ms per name EACH, measured 11.8 s
      build / 0.98 s exec at just 10³ names and linear beyond
      (same root cause as the A4 finding, probe P3). The reference's
      USPTO molecules-to-remove list is ~10⁴–10⁵, so past
      _RARE_LITERAL_MAX distinct names these modes now route to
      :func:`_unresolved_nullout_join` (explode → broadcast semi/anti
      joins → positional rebuild; zero driver state), exact-twin
      pinned by a randomized equality test over both modes.
    """
    modes = [
        cfg.set_unresolved_names_to_none_if_mapped_rxn_str_exists_else_del_rxn,
        cfg.remove_rxn_with_unresolved_names,
        cfg.set_unresolved_names_to_none,
    ]
    if sum(bool(m) for m in modes) != 1:
        raise ValueError("exactly one unresolved-name mode must be set (cleaner.py:89-95)")

    names_d = names.select(F.col("name")).where(F.col("name").isNotNull()).distinct()

    if (
        not cfg.remove_rxn_with_unresolved_names
        and "original_index" in df.columns
        and names_d.limit(_RARE_LITERAL_MAX + 1).count() > _RARE_LITERAL_MAX
    ):
        # modes (a)/(c) beyond the literal ceiling: join-based null-out
        # (r10 — same threshold routing as the rare stage; the decision
        # count is limit-bounded, never a collect)
        cleaned = _unresolved_nullout_join(df, names_d)
        if cfg.set_unresolved_names_to_none:
            return cleaned.drop("__has_bad")
        return cleaned.filter(F.col("is_mapped") | ~F.col("__has_bad")).drop("__has_bad")

    if cfg.remove_rxn_with_unresolved_names and "original_index" in df.columns:
        # r16 (optimization round 2, guide §2.4): SINGLE-PASS row drop.
        # The previous shape derived offending ids from an explode of
        # ``df`` and anti-joined them back onto ``df`` — two consumers
        # of the caller's upstream plan, and AQE's stage cache does not
        # match the copies (r15 profiling: c_clean_pipeline_fullscale's
        # scaffold aggregation executed TWICE inside the rare-stage
        # checkpoint job, 0 ReusedExchange). Here the upstream is
        # consumed exactly ONCE: members are exploded beside the packed
        # row, flagged by one broadcast hash join (same O(1)-per-member
        # probe as before; NULL members never match), and collapsed
        # back by the unique ``original_index``. The collapse is an
        # aggregation whose partial phase re-collapses the ~|members|
        # exploded copies map-side (explode emits them adjacently), so
        # at most ~1× the original rows cross any exchange — and when
        # ``df`` is already hash-partitioned by the id (the scaffold
        # groupBy of every gated caller), alias-aware partitioning
        # propagation makes the collapse exchange-free.
        # Contract (unchanged, now load-bearing for the collapse):
        # ``original_index`` is unique — merge_extracted builds it as a
        # global row index and every scaffold keys it by its groupBy.
        exploded = df.select(
            F.col("original_index").alias("__ui"),
            _pack_row(df.columns).alias("__row"),
            F.explode_outer(F.concat(*[_arr(r) for r in ALL_ROLES])).alias("__m"),
        )
        flagged = exploded.join(
            F.broadcast(names_d), exploded["__m"] == names_d["name"], "left"
        )
        collapsed = flagged.groupBy("__ui").agg(
            F.any_value(F.col("__row")).alias("__row"),  # all copies identical
            F.max(names_d["name"].isNotNull()).alias("__has_bad"),
        )
        return _unpack_row(collapsed.filter(~F.col("__has_bad")), df.columns)

    bad_list = [r[0] for r in names_d.collect()]

    def is_bad(x: Column) -> Column:
        return x.isin(bad_list) if bad_list else F.lit(False)

    # materialise the overlap flag BEFORE any null-out so mode (a)'s
    # row-drop gate sees the original arrays, not the cleaned ones.
    # coalesce→false (review finding, r8, verified live): is_bad(NULL
    # member) is NULL, and F.exists's three-valued logic then returns
    # NULL instead of false for a row with a NULL member and no bad
    # name — mode (a)'s filter silently DROPPED such clean rows
    # (false | ~NULL = NULL), diverging from the join path.
    with_bad = df.withColumn(
        "__has_bad",
        F.coalesce(
            F.exists(F.concat(*[_arr(r) for r in ALL_ROLES]), is_bad),
            F.lit(False),
        ),
    )

    def null_out(col: Column) -> Column:
        return F.transform(col, lambda x: F.when(is_bad(x), None).otherwise(x))

    def drop_nulled(col: Column) -> Column:
        # the reference pushes unresolved→None then relies on
        # nulls-last + slot trimming; in the array model a nulled
        # member is simply removed (extractor.py:940-1016)
        return F.filter(null_out(col), lambda x: x.isNotNull())

    if cfg.remove_rxn_with_unresolved_names:
        return with_bad.filter(~F.col("__has_bad")).drop("__has_bad")

    nulled = with_bad
    for r in ("reactants", "agents", "reagents", "solvents", "catalysts"):
        nulled = nulled.withColumn(r, drop_nulled(F.col(r)))
    # products move WITH their paired yields (the reference keeps the
    # pair aligned through _sort_row_relative / move-None-to-end,
    # cleaner.py:415-469): filter the zip, never products alone
    pz = F.filter(
        F.arrays_zip(
            null_out(_arr("products")).alias("p"),
            F.coalesce(F.col("yields"), F.array().cast("array<double>")).alias("y"),
        ),
        lambda s: s["p"].isNotNull(),
    )
    nulled = (
        nulled.withColumn("__pz", pz)
        .withColumn("products", F.transform("__pz", lambda s: s["p"]))
        .withColumn("yields", F.transform("__pz", lambda s: s["y"]))
        .drop("__pz")
    )
    if cfg.set_unresolved_names_to_none:
        return nulled.drop("__has_bad")
    # mode (a): rows that had an unresolved name but no mapped rxn_str
    # are dropped; mapped rows keep the cleaned arrays
    kept = nulled.filter(F.col("is_mapped") | ~F.col("__has_bad"))
    return kept.drop("__has_bad")


def _unresolved_nullout_join(
    df: DataFrame, names_d: DataFrame, id_col: str = "original_index"
) -> DataFrame:
    """Join-based twin of the literal null-out for P11 modes (a)/(c)
    (r10): one explode of non-null (role, pos, member, yield) triples,
    a broadcast SEMI join for the ``__has_bad`` flag (NULL members
    never match, reproducing the literal path's coalesce-false), a
    broadcast ANTI join keeping resolved members, and a positional
    array rebuild. Zero driver state at any |names| — the literal twin
    pays ~0.8 ms of py4j expression build per name at each of its 7
    ``isin`` sites (measured 11.8 s at just 10³ names).

    Exact-twin semantics, pinned by a randomized equality test
    (tests/test_cleaning.py):
    - NULL members are dropped (the literal drop_nulled/zip-filter
      does the same), and a NULL role ARRAY stays NULL for the five
      scalar roles but becomes [] for products (the literal path runs
      products through _arr before zipping);
    - products move WITH their paired yields; arrays_zip's padding
      (extra yields → p=NULL → dropped; extra products → y=NULL →
      kept) is reproduced by zipping the same coalesced arrays."""
    scalar_roles = [r for r in ALL_ROLES if r != "products"]
    y_arr = F.coalesce(F.col("yields"), F.array().cast("array<double>"))

    def _tag(role: str) -> Column:
        return F.transform(
            _arr(role),
            lambda x, i: F.struct(
                F.lit(role).alias("role"),
                i.alias("pos"),
                x.alias("m"),
                F.lit(None).cast("double").alias("y"),
            ),
        )

    prod = F.transform(
        F.arrays_zip(_arr("products").alias("p"), y_arr.alias("y")),
        lambda s, i: F.struct(
            F.lit("products").alias("role"), i.alias("pos"), s["p"].alias("m"), s["y"].alias("y")
        ),
    )
    tagged = F.concat(*[_tag(r) for r in scalar_roles], prod)
    exploded = (
        df.select(F.col(id_col).alias("__nid"), F.explode(tagged).alias("t"))
        .filter(F.col("t")["m"].isNotNull())
    )
    bad_ids = (
        exploded.join(F.broadcast(names_d), exploded["t"]["m"] == names_d["name"], "left_semi")
        .select(F.col("__nid").alias("__bid"))
        .distinct()
    )
    kept = exploded.join(
        F.broadcast(names_d), exploded["t"]["m"] == names_d["name"], "left_anti"
    )
    rebuilt = kept.groupBy("__nid").agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("t.role") == r, F.struct(F.col("t.pos"), F.col("t.m")))
                    )
                ),
                lambda s: s["m"],
            ).alias(f"__new_{r}")
            for r in scalar_roles
        ],
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("t.role") == "products",
                    F.struct(F.col("t.pos"), F.col("t.m"), F.col("t.y")),
                )
            )
        ).alias("__new_pz"),
    )
    out = (
        df.join(rebuilt, df[id_col] == rebuilt["__nid"], "left")
        .join(F.broadcast(bad_ids), df[id_col] == F.col("__bid"), "left")
        .withColumn("__has_bad", F.col("__bid").isNotNull())
    )
    for r in scalar_roles:
        out = out.withColumn(
            r,
            F.when(F.col(r).isNull(), F.lit(None).cast("array<string>")).otherwise(
                F.coalesce(F.col(f"__new_{r}"), F.array().cast("array<string>"))
            ),
        )
    out = (
        out.withColumn(
            "products",
            F.coalesce(
                F.transform("__new_pz", lambda s: s["m"]), F.array().cast("array<string>")
            ),
        )
        .withColumn(
            "yields",
            F.coalesce(
                F.transform("__new_pz", lambda s: s["y"]), F.array().cast("array<double>")
            ),
        )
    )
    return out.drop("__nid", "__bid", "__new_pz", *[f"__new_{r}" for r in scalar_roles])


def rename_catalysts_to_reagents(df: DataFrame) -> DataFrame:
    """cleaner.py:148-167,660-681 — when trust_labelling output keeps
    separate catalyst/reagent roles but the run wants them merged:
    reagents ← reagents ∪ catalysts (order: reagents then catalysts),
    catalysts emptied. Column renumbering dissolves into array concat."""
    return df.withColumn("reagents", F.concat(_arr("reagents"), _arr("catalysts"))).withColumn(
        "catalysts", F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# P2–P6 — row filters
# ---------------------------------------------------------------------------

def trim_components(df: DataFrame, cfg: CleanConfig) -> DataFrame:
    """P2 (cleaner.py:170-225): drop rows with more members than the
    configured count for each role (rows, not slots: a row with a
    non-null beyond slot N is removed; padding happens at export)."""
    limits = {
        "reactants": cfg.num_reactant,
        "products": cfg.num_product,
        "solvents": cfg.num_solv,
        "agents": cfg.num_agent,
        "catalysts": cfg.num_cat,
        "reagents": cfg.num_reag,
    }
    out = df
    for role, n in limits.items():
        if n < 0:
            # reference -1 sentinel = keep every column/row untrimmed
            # (cleaner.py:179-182)
            continue
        out = out.filter(F.size(_arr(role)) <= n)
    return out


def require_core_components(df: DataFrame) -> DataFrame:
    """P3+P4 (cleaner.py:227-269): at least one reactant and one
    product; at least one condition component overall."""
    cond_size = sum(F.size(_arr(r)) for r in CONDITION_ROLES)
    return df.filter(
        (F.size(_arr("reactants")) > 0) & (F.size(_arr("products")) > 0) & (cond_size > 0)
    )


def remove_reactants_equal_products(df: DataFrame) -> DataFrame:
    """P5 (cleaner.py:271-287): drop rows whose reactant *set* equals
    the product set (recrystallisation etc.) — a row-loop in the
    reference, a pure expression here."""
    rset = F.array_sort(F.array_distinct(_arr("reactants")))
    pset = F.array_sort(F.array_distinct(_arr("products")))
    return df.filter(rset != pset)


def enforce_yield_consistency(df: DataFrame) -> DataFrame:
    """P6 (cleaner.py:289-316): every yield null or in [0,100], and
    the row-sum of yields ≤ 100; violating rows are dropped."""
    ys = F.coalesce(F.col("yields"), F.array().cast("array<double>"))
    each_ok = F.forall(ys, lambda y: y.isNull() | ((y >= 0) & (y <= 100)))
    total = F.aggregate(ys, F.lit(0.0), lambda acc, y: acc + F.coalesce(y, F.lit(0.0)))
    return df.filter(each_ok & (total <= 100.0))


# ---------------------------------------------------------------------------
# A3–A6 — frequency handling + dedup
# ---------------------------------------------------------------------------

def condition_value_counts(df: DataFrame) -> DataFrame:
    """A3 (cleaner.py:318-339): global frequency of every molecule
    across the condition roles. Two-phase hash aggregate; output is
    distinct-molecule sized (broadcastable)."""
    return (
        df.select(F.explode(F.concat(*[_arr(r) for r in CONDITION_ROLES])).alias("molecule"))
        .groupBy("molecule")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# measured crossover between the two A4 strategies (r10 probe P3):
# literal ≈ 0.3 s + 2 ms·|frequent|·4 roles of py4j expression build,
# join flat ≈ 0.4 s → break-even near 100; 256 keeps small dims on the
# exchange-free literal path with margin
_RARE_LITERAL_MAX = 256


def map_rare_molecules_to_other(df: DataFrame, counts: DataFrame, min_freq: int, other: str = "other") -> DataFrame:
    """A4 (cleaner.py:341-368): condition-role members with global
    count < k become 'other'.

    Membership is tested against the FREQUENT set, inverted — a member
    is rare iff NOT in {molecule: count ≥ k}: |frequent| ≤
    total_members / k BY CONSTRUCTION (each frequent molecule accounts
    for ≥ k member occurrences), so the collected set has a hard bound
    independent of vocabulary size — the rare set does not (at LLM
    scale it IS the vocabulary). Execution-side the literal becomes a
    Catalyst InSet hash set even inside the transform lambda (verified
    in the optimized plan — OptimizeIn fires within LambdaFunction);
    a broadcast MAP is not an option (ArrayBasedMapData element_at is
    a linear key scan).

    MEASURED CEILING (SURVEY.md §16): the real cost is not execution
    (0.29 s at sf0.1) or Catalyst (0.42 s) but PY4J EXPRESSION
    CONSTRUCTION — ``x.isin(freq_list)`` ships each literal through a
    py4j call, ~2 ms per entry per role column, measured 29 s at
    |frequent| = 13 k × 4 roles vs the join twin's flat 0.4 s. Crossover vs
    :func:`map_rare_molecules_to_other_join` is only ~O(100) frequent
    entries; prefer THIS variant only for small frequent sets or when
    no row id exists for the join rebuild. The clean pipeline routes
    between the two automatically (_RARE_LITERAL_MAX)."""
    freq_list = [
        r[0]
        for r in counts.filter(F.col("count") >= min_freq)
        .select("molecule")
        .where(F.col("molecule").isNotNull())
        .collect()
    ]
    out = df
    for r in CONDITION_ROLES:
        out = out.withColumn(
            r,
            F.transform(
                _arr(r),
                # NULL members stay NULL (review finding: x.isin(...)
                # is NULL for NULL x, so the bare otherwise() mapped
                # NULLs to 'other' — diverging from both the oracle's
                # CASE WHEN list_contains and the remove-rows twin,
                # which never matches NULL in its equi-join)
                lambda x: F.when(
                    x.isin(freq_list) if freq_list else F.lit(False), x
                )
                .when(x.isNotNull(), F.lit(other))
                .otherwise(F.lit(None).cast("string")),
            ),
        )
    return out


def map_rare_molecules_to_other_join(
    df: DataFrame,
    counts: DataFrame,
    min_freq: int,
    other: str = "other",
    id_col: str = "original_index",
) -> DataFrame:
    """Join-based twin of :func:`map_rare_molecules_to_other` for
    vocabularies too large to collect (no driver materialisation at
    any scale — the shape remove_rows_with_rare_molecules already
    uses, extended with an array rebuild):

    explode (role, pos, member) → broadcast-hash join the frequent set
    (bounded at total/k rows; spills to a shuffle join via AQE if even
    that outgrows broadcast) → groupBy row id rebuilding each role
    array in position order → join back on the id.

    Cost: one shuffle of the member triples + one of the fact table —
    and FLAT in the frequent-set size, which makes this the DEFAULT
    past ~O(100) frequent entries: the literal twin pays ~2 ms of py4j
    expression construction PER ENTRY PER ROLE (measured 29 s at 13 k
    entries vs 0.4 s here — r10 probe P3; an earlier docstring
    guessed the opposite crossover at 10⁶). Gated end-to-end as
    ``c_rare_to_other_join`` with a plan lint asserting zero driver
    materialisation."""
    freq = counts.filter(F.col("count") >= min_freq).select("molecule")

    def _tag(role: str) -> Column:
        return F.transform(
            _arr(role),
            lambda x, i: F.struct(F.lit(role).alias("role"), i.alias("pos"), x.alias("m")),
        )

    tagged = F.concat(*[_tag(r) for r in CONDITION_ROLES])
    exploded = df.select(F.col(id_col).alias("__mid"), F.explode(tagged).alias("t"))
    marked = exploded.join(
        F.broadcast(freq), exploded["t"]["m"] == freq["molecule"], "left"
    ).select(
        "__mid",
        F.col("t")["role"].alias("role"),
        F.col("t")["pos"].alias("pos"),
        # NULL members are PRESERVED, matching the literal twin (review
        # finding, r8, verified live: a NULL never matches the freq
        # join, so the old otherwise() rewrote it to 'other' — the
        # exact divergence a prior review fixed on the literal side)
        F.when(F.col("t")["m"].isNull(), F.lit(None).cast("string"))
        .when(F.col("molecule").isNotNull(), F.col("t")["m"])
        .otherwise(F.lit(other))
        .alias("m"),
    )
    rebuilt = marked.groupBy("__mid").agg(
        *[
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("role") == r, F.struct(F.col("pos"), F.col("m")))
                    )
                ),
                lambda s: s["m"],
            ).alias(f"__new_{r}")
            for r in CONDITION_ROLES
        ]
    )
    out = df.join(rebuilt, df[id_col] == rebuilt["__mid"], "left")
    for r in CONDITION_ROLES:
        # rows with zero condition members produce no triples → null
        # from the left join → keep their original (empty) arrays
        out = out.withColumn(r, F.coalesce(F.col(f"__new_{r}"), _arr(r)))
    return out.drop("__mid", *[f"__new_{r}" for r in CONDITION_ROLES])


def remove_rows_with_rare_molecules(
    df: DataFrame, counts: DataFrame, min_freq: int, id_col: str = "original_index"
) -> DataFrame:
    """A5/J3 (cleaner.py:370-396): drop rows containing any condition
    molecule with global count < k.

    Shape: explode members → broadcast-HASH semi-join the rare set →
    distinct offending ids → anti-join back. A real hash probe per
    member — in-row alternatives (array_contains / map element_at) are
    LINEAR scans of the rare set per member, which measured ~10 s at
    sf0.1 once the rare set hit ~2·10⁴; this shape is O(1) per member
    and every shuffle carries only (id, molecule) pairs."""
    rare = counts.filter(F.col("count") < min_freq).select("molecule")
    members = df.select(
        F.col(id_col).alias("__rmid"),
        F.explode(F.concat(*[_arr(r) for r in CONDITION_ROLES])).alias("__m"),
    )
    bad_ids = (
        members.join(F.broadcast(rare), members["__m"] == rare["molecule"], "left_semi")
        .select("__rmid")
        .distinct()
    )
    return df.join(bad_ids, df[id_col] == bad_ids["__rmid"], "left_anti")


def reaction_key(df: DataFrame, roles: Sequence[str], include_yields: bool = False) -> Column:
    """The dedup subset key: POSITIONAL role lists (null→'NULL'),
    '.'-joined per role, '|' between roles. The reference's
    drop_duplicates compares the wide slot columns as-is — no sorting
    (cleaner.py:806-866 runs pre-scramble, so extraction's sorted
    lists arrive in positional==sorted order except agents, which are
    deliberately TM-first); permutations of each other are distinct
    rows there and stay distinct here."""
    # members are md5'd BEFORE joining: fixed-width encodings make the
    # '.'/'|' separators collision-free even when molecule strings
    # themselves contain '.' (SMILES salts like 'Cl.NCCN' — review
    # finding: ['CC.O'] and ['CC','O'] used to produce the same key;
    # the reference compares slot columns pairwise and has no such
    # collision)
    # r16: one SQL-parsed expression per role (identical tree to the
    # previous Column-builder form — same implicit string→binary cast
    # inside md5, same coalesce/transform nesting) to cut py4j round
    # trips during plan construction; see _arr.
    parts = [
        F.expr(
            f"concat_ws('.', transform(coalesce({_ident(r)}, CAST(array() AS array<string>)), "
            "x -> md5(coalesce(x, 'NULL'))))"
        )
        for r in roles
    ]
    if include_yields:
        parts.append(
            F.expr(
                "concat_ws('.', transform(coalesce(yields, CAST(array() AS array<double>)), "
                "y -> md5(coalesce(CAST(y AS string), 'NULL'))))"
            )
        )
    return F.concat_ws("|", *parts)


def dedup_reactions(df: DataFrame, cfg: CleanConfig, include_yields: bool = False) -> DataFrame:
    """A6 + W1 (cleaner.py:796-866): duplicate elimination where a
    seeded-*random* duplicate survives. The reference shuffles rows
    with numpy then keeps the first; here the survivor is the row
    minimising md5(seed:original_index) within its key group — same
    distribution, but a pure function of the data (retry/partition
    safe; the reference's own result is platform-dependent,
    cleaner.py:483)."""
    key = reaction_key(df, cfg.dedup_subset_roles, include_yields)
    order = F.md5(F.concat_ws(":", F.lit(str(cfg.seed)), F.col("original_index").cast("string")))
    # A row_number window, not a min_by argmin. At sf0.1 both shapes
    # are driver/overhead-bound and tie; the compute-bound 10×-sf0.1
    # corpus separates them (OPTIMIZATION_r16.md): the min_by full-row
    # struct buffer is not hash-mutable, so it plans as SortAggregate —
    # sorting the full-width rows TWICE (partial + final) around the
    # key exchange — while the window sorts them once after it
    # (min_by 10.3 s vs window 7.0 s for the same upstream at 10×,
    # identical 725,450 survivors; sf0.1 wash re-confirmed, 3.3 vs
    # 3.5 s). min_by's partial collapse only pays when duplicates of
    # one key co-locate within map partitions — at ~50% global dup
    # rate it still lost. A two-phase decide-on-narrow-rows variant
    # (guide §8) lost too (13.0 s): its winner relation is a second
    # consumer of the upstream plan, re-running the scaffold.
    w = Window.partitionBy(key).orderBy(order, F.col("original_index"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# F16 — scramble
# ---------------------------------------------------------------------------

def scramble_role_lists(df: DataFrame, cfg: CleanConfig, roles: Sequence[str] = ("reactants", "solvents", "reagents", "catalysts")) -> DataFrame:
    """F16 (cleaner.py:471-509): per-row permutation of each role list.
    Agents are excluded (transition-metal-first order must survive,
    cleaner.py:497-500); products/yields excluded (alignment).
    Permutation key: md5(seed:original_index:member) — deterministic."""
    # r16: one SQL-parsed expression per role (identical tree to the
    # previous Column-builder form; cfg.seed is an int, inlined as the
    # same string literal F.lit(str(seed)) produced) — see _arr for the
    # py4j-round-trip rationale.
    out = df
    for r in roles:
        out = out.withColumn(
            r,
            F.expr(
                "transform(array_sort(transform("
                f"coalesce({_ident(r)}, CAST(array() AS array<string>)), "
                f"x -> struct(md5(concat_ws(':', '{cfg.seed}', "
                "CAST(original_index AS string), x)) AS k, x AS v))), s -> s.v)"
            ),
        )
    return out


# ---------------------------------------------------------------------------
# F13/F20/J4 — reaction hash + split with leakage repair
# ---------------------------------------------------------------------------

def reaction_hash(df: DataFrame) -> Column:
    """F13 (cleaner.py:913-924): '.'-join of sorted reactants +
    sorted products (null→'NULL'), sha256'd for a fixed-width shuffle
    key (the reference keeps the raw string; hashing bounds key size
    at 100 TB)."""
    # r16: one SQL-parsed expression (identical tree; see _arr)
    sort_roles = ", ".join(
        f"array_sort(transform(coalesce({_ident(r)}, CAST(array() AS array<string>)), "
        "x -> coalesce(x, 'NULL')))"
        for r in ("reactants", "products")
    )
    return F.expr(f"sha2(concat_ws('.', concat({sort_roles})), 256)")


def train_test_split_routed(df: DataFrame, cfg: CleanConfig) -> DataFrame:
    """F20 + J4 core: ``df`` plus a boolean ``__to_train`` column —
    deterministic pseudo-random split, then every row whose reaction
    hash co-occurs with a train row routes to train (leakage repair).

    r15 (optimization round, guide §2.4): the repair is ONE
    whole-partition window over the content hash — ``any train row in
    my hash group?`` — so the caller's upstream plan is consumed
    exactly ONCE (the earlier semi+anti and single-join shapes each
    re-ran the upstream scaffold per consumer branch; AQE's stage
    cache does not dedupe the copies, profiled on c_split_fullscale).
    One exchange on the 32-byte hash is the standard exact-dedup
    shuffle any leakage repair must pay; the reference's 15-minute
    row-loop hash matching (BASELINE.md) is this same exchange.
    Routing is identical: to_train ⇔ is_train ∨ hash∈train_hashes
    ⇔ max(is_train) over the hash partition."""
    keyed = df.withColumn("__hash", reaction_hash(df)).withColumn(
        "__r", F.md5(F.concat_ws(":", F.lit(f"split{cfg.seed}"), F.col("original_index").cast("string")))
    )
    # md5 hex is uniform: threshold on the first 8 hex digits
    frac_key = F.conv(F.substring(F.col("__r"), 1, 8), 16, 10).cast("double") / float(0xFFFFFFFF)
    keyed = keyed.withColumn("__is_train", frac_key < cfg.train_test_split_fraction)
    from pyspark.sql import Window

    w = Window.partitionBy("__hash")
    return keyed.withColumn(
        "__to_train", F.max(F.col("__is_train").cast("int")).over(w) == 1
    ).drop("__hash", "__r", "__is_train")


def train_test_split(df: DataFrame, cfg: CleanConfig) -> tuple[DataFrame, DataFrame]:
    """F20 + J4 (cleaner.py:1375-1421 + 886-945): deterministic
    pseudo-random split with leakage repair; returns (train, test).

    The routed relation (:func:`train_test_split_routed`) is
    localCheckpointed before the two filters — the pair contract
    means two consumers, and without a barrier each would re-run the
    window AND the caller's upstream plan (AQE stage-cache reuse does
    not fire on the copies; same evidence as clean_pipeline's rare
    stage). A real deployment materialises both splits to sinks (S9)
    anyway, so the barrier mirrors the deployment shape."""
    routed = train_test_split_routed(df, cfg).localCheckpoint()
    final_train = routed.filter(F.col("__to_train")).drop("__to_train")
    clean_test = routed.filter(~F.col("__to_train")).drop("__to_train")
    return final_train, clean_test


# ---------------------------------------------------------------------------
# the full pipeline
# ---------------------------------------------------------------------------


def clean_pipeline(df: DataFrame, molecule_names: DataFrame, cfg: CleanConfig) -> DataFrame:
    """The fixed stage order of cleaner._get_dataframe
    (cleaner.py:533-882), minus the merge (see merge_extracted) and
    the export pivot (schema.array_to_wide).

    SIDE EFFECT / DEPLOYMENT NOTE: when the rare stage dedups first
    (min_frequency_of_occurrence != 0 and drop_duplicates), this
    function EAGERLY runs a Spark job (the
    ``localCheckpoint`` of the deduped relation) during construction,
    and the materialised blocks live on executor-local storage — not
    recoverable on executor loss. Correct in local mode and on static
    executors; on a cluster with dynamic allocation, prefer writing
    the deduped intermediate to a table and re-reading it (the
    explicit, caller-owned barrier), or a reliable ``checkpoint()``
    with a checkpoint dir. The same caveat applies to every
    ``localCheckpoint`` barrier in this package (train_test_split,
    prefix-filter, simhash, kmeans/RQ, PageRank iteration state)."""
    dedup1_ran = False
    out = handle_unresolved_names(df, molecule_names, cfg)
    if cfg.num_cat == 0 and cfg.num_reag > 0:
        out = rename_catalysts_to_reagents(out)
    out = trim_components(out, cfg)
    out = require_core_components(out)
    out = remove_reactants_equal_products(out)
    if cfg.consistent_yield:
        out = enforce_yield_consistency(out)
    if cfg.min_frequency_of_occurrence != 0:
        # the first dedup exists only to stop duplicates inflating the
        # frequency counts — the reference runs it inside the
        # rare-molecule block, not unconditionally (cleaner.py:806-828)
        if cfg.drop_duplicates:
            out = dedup_reactions(out, cfg, include_yields=cfg.consistent_yield)
            dedup1_ran = True
            # The rare stage fans the deduped relation into THREE
            # consumers (value-counts explode, offender-members explode,
            # the main anti-join probe side), and AQE's stage cache does
            # not match the three subtrees: without a barrier the
            # scaffold scan + dedup aggregation executes once PER
            # consumer (3 scans / 8 exchanges / 0 reuse at sf0.1). One
            # localCheckpoint bounds the upstream to a single execution;
            # the materialised relation is the deduped row set — the
            # same bytes the three consumers would each rebuild.
            out = out.localCheckpoint()
        counts = condition_value_counts(out)
        if cfg.map_rare_molecules_to_other:
            # strategy routing: the literal variant costs ~2 ms of py4j
            # expression construction per frequent entry per role (29 s
            # at 13 k entries), the join variant is flat (~0.4 s) —
            # route on the frequent-set size. The probe count moves at
            # most _RARE_LITERAL_MAX + 1 rows to the driver, so the
            # decision itself is scale-safe.
            k = cfg.min_frequency_of_occurrence
            n_freq = (
                counts.filter(F.col("count") >= k).limit(_RARE_LITERAL_MAX + 1).count()
            )
            if n_freq > _RARE_LITERAL_MAX:
                out = map_rare_molecules_to_other_join(out, counts, k)
            else:
                out = map_rare_molecules_to_other(out, counts, k)
        else:
            out = remove_rows_with_rare_molecules(out, counts, cfg.min_frequency_of_occurrence)
    if cfg.drop_duplicates:
        # yield columns join the subset whenever consistent_yield is on
        # (get_columns_for_duplicate_checking, cleaner.py:768-794):
        # reactions differing only in yield are deliberately KEPT.
        # Skip when provably a no-op: dedup1 already ran with the SAME
        # key and the rare stage only removed whole rows (row removal
        # cannot create new duplicates; map-to-other CAN, by collapsing
        # two rare molecules into 'other', so that path still dedups).
        if not (dedup1_ran and not cfg.map_rare_molecules_to_other):
            out = dedup_reactions(out, cfg, include_yields=cfg.consistent_yield)
    if cfg.scramble:
        out = scramble_role_lists(out, cfg)
    return out


def observed(df: DataFrame, name: str):
    """A7 (cleaner.py row-count telemetry): attach an Observation so
    the row count of this stage is collected as a side effect of
    whatever action runs downstream — NO extra count() pass per stage
    (the reference materialises and counts after every stage; at
    100 TB each of those is a full job). Returns (df, observation);
    read ``observation.get`` after an action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
