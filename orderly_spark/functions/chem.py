"""Chemistry UDFs (SURVEY §2.10 / M2): SMILES canonicalisation,
atom-map detection, transition-metal test, Morgan fingerprints.

RDKit is not part of the harness image. Since r11 the TM test and the
Morgan fingerprint run REAL chemistry on the pure-Python SMILES graph
parser (functions/smiles.py) for the parseable subset; since r12
canonicalisation (F3) does too — a canonical atom ranking (Morgan
relaxation + exhaustive tie-break) and deterministic SMILES writer
over the same parsed graph, with Hückel aromaticity perception since
r13 (Kekulé and aromatic spellings of one molecule collapse to one
canonical string AND one fingerprint, like the reference's RDKit
path). Only inputs outside the grammar
(plain-text names, exotic stereo tags) fall to the clearly-marked
fallbacks (identity pass-through for canonicalisation). The
Spark-side plumbing (pandas UDFs, Arrow batching, per-batch memo
cache, two-phase distinct→broadcast application) is real in every
path.

Reference behaviours mirrored:
- canonicalise: orderly/extract/canonicalise.py:12-72 (strip atom
  maps when mapped, [x]-bracket retry, None on unparseable)
- transition metal: orderly/extract/defaults.py:10-39 (atomic number
  in 22–29, 40–47, 72–79)
- fingerprints: orderly/gen_fp/fingerprints.py:76-99 (Morgan r=3,
  2048 bits, zeros on failure)

Scale pattern (SURVEY §7.3.2): NEVER run the chem kernel once per fact
row — molecule strings repeat heavily. ``canonicalise_via_dimension``
distincts the molecule column, canonicalises the small distinct set,
and broadcast-joins back: turns a UDF-per-row into a dimension build.
The gen_fp row (:func:`reaction_fingerprints`) is one pandas UDF pass
per row instead: a per-task memo keeps one numpy fingerprint per
distinct molecule, and the row's product and difference fingerprints
are built in Python and cross the Arrow boundary once.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - rdkit not in harness image
    from rdkit import Chem  # type: ignore

    HAVE_RDKIT = True
except Exception:  # pragma: no cover
    Chem = None
    HAVE_RDKIT = False

# transition metals: atomic numbers 22-29, 40-47, 72-79 (defaults.py:10-39)
_TM_SYMBOLS = (
    "Ti V Cr Mn Fe Co Ni Cu "
    "Zr Nb Mo Tc Ru Rh Pd Ag "
    "Hf Ta W Re Os Ir Pt Au"
).split()


def _parsed_canonicalise_one(smiles: str, is_mapped: bool) -> str:
    """F3 kernel on the pure-Python parsed graph (r12; aromaticity
    perception r13): canonical atom ranking (Morgan relaxation +
    exhaustive tie-break) and a deterministic SMILES writer
    (functions/smiles.py canonical_smiles). The retry on parse failure
    takes the SHAPE of the reference's bracket quirk
    (canonicalise.py:66-72) without matching its branch structure
    exactly: the reference returns None for inputs starting with '['
    but not ending with ']' (raw name kept) and retries the
    map-RETAINING canonicalise, while this wraps bare names to
    ``[x]`` / unwraps ``[x]`` to inner and retries with the same
    strip_atom_map flag. The divergence is observably equivalent only
    because FAILED retries collapse to identity on both sides; a
    SUCCESSFUL retry is visible here where the reference would keep
    the raw name (e.g. bare ``Pd`` → ``[Pd]``) — a deliberate,
    documented delta (ADVICE r12; pinned by
    test_parsed_canonicalise_one_retry_quirk)."""
    from orderly_spark.functions.smiles import canonical_smiles

    c = canonical_smiles(smiles, strip_atom_map=is_mapped)
    if c is not None:
        return c
    if smiles.startswith("[") and smiles.endswith("]"):
        c = canonical_smiles(smiles[1:-1], strip_atom_map=is_mapped)
    elif smiles:
        c = canonical_smiles(f"[{smiles}]", strip_atom_map=is_mapped)
    return c if c is not None else smiles


def _canonicalise_one(smiles: str, is_mapped: bool) -> str | None:
    """Single-molecule canonicalisation; memoised per batch by the UDF."""
    if smiles is None:
        return None
    if not HAVE_RDKIT:
        # No RDKit in image (r12, F3 partial-close): REAL canonical
        # SMILES from the pure-Python parser/writer for the parseable
        # subset; identity pass-through only for inputs outside the
        # grammar (names). RDKit-vs-parser string equality is NOT
        # claimed (different canonical orderings) — equality CLASSES
        # agree, pinned by the skip-gated parity tests.
        return _parsed_canonicalise_one(smiles, is_mapped)
    mol = Chem.MolFromSmiles(smiles)
    if mol is None and "[" in smiles:
        # bracket-retry quirk (canonicalise.py:37-47)
        mol = Chem.MolFromSmiles(smiles.replace("[", "").replace("]", ""))
    if mol is None:
        return None
    if is_mapped:
        for atom in mol.GetAtoms():
            atom.SetAtomMapNum(0)
    return Chem.MolToSmiles(mol)


def _has_tm_one(smiles: str) -> bool:
    if smiles is None:
        return False
    if HAVE_RDKIT:
        mol = Chem.MolFromSmiles(smiles)
        if mol is None:
            return False
        return any(
            22 <= a.GetAtomicNum() <= 29 or 40 <= a.GetAtomicNum() <= 47 or 72 <= a.GetAtomicNum() <= 79
            for a in mol.GetAtoms()
        )
    # No RDKit: EXACT atomic-number walk on the pure-Python parsed
    # graph (functions/smiles.py — r11, F5 partial-close). Only inputs
    # OUTSIDE the parser's SMILES subset (e.g. plain-text names) fall
    # through to the legacy symbol scan, whose measured false-positive
    # surface is pinned by tests/test_chem.py.
    from orderly_spark.functions.smiles import molecule_has_tm

    parsed = molecule_has_tm(smiles)
    if parsed is not None:
        return parsed
    # FALLBACK (unparseable only): symbol scan — two-letter symbols
    # first so 'Pd' is not read as phosphorus+deuterium.
    for sym in _TM_SYMBOLS:
        if sym in smiles:
            return True
    return False


@F.pandas_udf(T.StringType())
def canonical_smiles_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
    """Scalar-iterator pandas UDF with an executor-local memo dict —
    molecule strings repeat heavily, so the cache turns O(rows) RDKit
    calls into O(distinct) per batch stream (SURVEY §4 'custom')."""
    memo: dict[tuple[str, bool], str | None] = {}
    for pdf in it:
        # struct-column call → DataFrame batch; two-arg call (e.g. the
        # SQL registry's canonical_smiles(s, mapped)) → tuple of Series
        if isinstance(pdf, tuple):
            smiles, mapped = pdf
        else:
            smiles, mapped = pdf.iloc[:, 0], pdf.iloc[:, 1]
        out = []
        for s, m in zip(smiles, mapped):
            k = (s, bool(m))
            if k not in memo:
                memo[k] = _canonicalise_one(s, bool(m))
            out.append(memo[k])
        yield pd.Series(out, dtype="object")


@F.pandas_udf(T.BooleanType())
def has_transition_metal_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    memo: dict[str, bool] = {}
    for s in it:
        # setdefault would EVALUATE _has_tm_one on every row (args are
        # computed before the call) — explicit lookup keeps the memo's
        # O(distinct) promise (review finding)
        def _memoized_tm(x):
            if x not in memo:
                memo[x] = _has_tm_one(x)
            return memo[x]

        yield s.map(lambda x: _memoized_tm(x) if x is not None else False)


def has_atom_map(col: Column) -> Column:
    """F4 (extractor.py:249-253) as a pure expression FALLBACK: an
    atom-map annotation is a ':<n>' suffix inside a bracket atom
    (``[CH3:1]``) — detectable by regex without parsing. The RDKit
    property check (molAtomMapNumber via ``canonical_smiles_udf``)
    supersedes this when the library is present; the regex is exact
    for well-formed SMILES since ':digits]' occurs only as a map.
    MAP CLASS 0 (``[CH3:0]``, any all-zero digit run) counts as
    UNMAPPED (r14, closing the r13-ledgered divergence): the parser
    and RDKit's GetAtomMapNum()==0 convention — which the reference's
    property check uses — both treat map 0 as no map, so the regex now
    requires a nonzero digit. NOTE the REFERENCE'S regex fallback
    (extractor.py) disagrees: it reads ':0]' as mapped, diverging from
    its own RDKit path; we side with the property-check convention.
    Pinned by test_atom_map_regex_cross_exam_hostile_corpora."""
    return F.coalesce(col.rlike(":0*[1-9][0-9]*\\]"), F.lit(False))


def canonicalise_via_dimension(df: DataFrame, array_col: str, is_mapped_col: str = "is_mapped") -> DataFrame:
    """Two-phase canonicalisation (the 100 TB pattern): explode →
    distinct (molecule, mapped) pairs → UDF over the distinct set →
    broadcast-join the small dimension back → reassemble arrays.

    Versus a per-row UDF this reduces RDKit work from Σ|arr| to
    |distinct molecules| and keeps the expensive stage off the fact
    shuffle path."""
    # review fixes, each empirically confirmed against the old shape:
    # - group by a synthetic UNIQUE row id, not by all non-array
    #   columns (identical rows merged: 5 rows in, 4 out, arrays
    #   concatenated) — also avoids shuffling the fact table by every
    #   column;
    # - plain posexplode + left join back to the base frame, so empty/
    #   null arrays stay empty/null (posexplode_outer's (null, null)
    #   row became a phantom [null] member);
    # - eqNullSafe on both join keys: is_mapped is nullable, and a
    #   plain equality nulled out EVERY member of is_mapped-null rows.
    # - __rid is PINNED with localCheckpoint before the plan branches:
    #   monotonically_increasing_id() is position-dependent, and the id
    #   column feeds two join branches (exploded and the final join
    #   back). Without pinning, a shuffle upstream / AQE replan / task
    #   retry can re-evaluate the two branches over different row
    #   orders, silently mismatching ids (NULL or wrong arrays). The
    #   checkpoint materialises the id'd rows once so both branches
    #   read the same partitions; cost is one local write of the fact
    #   slice, which the Σ|arr|→|distinct| UDF saving dwarfs.
    # - pairs is built from the CHECKPOINTED with_id, not the raw df
    #   (review finding, r8): building it from df re-ran the full
    #   upstream lineage a second time, and for a nondeterministic
    #   upstream the pairs scan could see DIFFERENT rows than the
    #   checkpointed frame — the broadcast join would miss molecules
    #   and null their canon, exactly the failure the __rid pinning
    #   exists to prevent.
    with_id = df.withColumn("__rid", F.monotonically_increasing_id()).localCheckpoint()
    pairs = (
        with_id.select(F.explode(F.col(array_col)).alias("m"), F.col(is_mapped_col).alias("im"))
        .distinct()
        .withColumn("canon", canonical_smiles_udf(F.struct(F.col("m"), F.col("im"))))
    )
    exploded = with_id.select("__rid", F.col(is_mapped_col), F.posexplode(F.col(array_col)).alias("__pos", "__m"))
    joined = exploded.join(
        F.broadcast(pairs),
        exploded["__m"].eqNullSafe(pairs["m"])
        & exploded[is_mapped_col].eqNullSafe(pairs["im"]),
        "left",
    )
    rebuilt = joined.groupBy("__rid").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("canon").alias("c")))
            ),
            lambda s: s.c,
        ).alias("__canon_arr")
    )
    out = (
        with_id.join(rebuilt, "__rid", "left")
        .withColumn(
            array_col,
            # empty input arrays produced no exploded rows → no rebuilt
            # row → keep the original (empty/null) array
            F.when(F.size(F.col(array_col)) > 0, F.col("__canon_arr")).otherwise(
                F.col(array_col)
            ),
        )
        .drop("__rid", "__canon_arr")
    )
    return out.select(*df.columns)


def tm_first_order(arr: Column, tm_set: Column) -> Column:
    """O3 (extractor.py:586-590, 1052-1056): stable reorder with
    transition-metal-containing molecules first. ``tm_set`` is a
    sorted array of known-TM molecules (a computed dimension —
    broadcastable at any scale)."""
    tm = F.filter(arr, lambda x: F.array_contains(tm_set, x))
    rest = F.filter(arr, lambda x: ~F.array_contains(tm_set, x))
    return F.concat(tm, rest)


def _morgan_fp(smiles: str | None, n_bits: int, radius: int) -> list[int] | None:
    """Per-molecule Morgan kernel shared by :func:`morgan_fingerprint_udf`
    and :func:`reaction_fingerprints`: RDKit's hashed Morgan counts when
    RDKit is present, else the pure-Python Morgan/ECFP over the parsed
    SMILES graph (functions/smiles.py). ``None`` for NULL or unparseable
    input; callers read that as the reference's all-zero fingerprint
    (fingerprints.py:92-99)."""
    if smiles is None:
        return None
    if HAVE_RDKIT:
        from rdkit.Chem import AllChem  # type: ignore

        mol = Chem.MolFromSmiles(smiles)
        if mol is None:
            return None
        fp = AllChem.GetHashedMorganFingerprint(mol, radius, nBits=n_bits)
        out = [0] * n_bits
        for idx, v in fp.GetNonzeroElements().items():
            out[idx] = int(v)
        return out
    from orderly_spark.functions.smiles import morgan_fingerprint

    return morgan_fingerprint(smiles, radius=radius, n_bits=n_bits)


def morgan_fingerprint_udf(n_bits: int = 2048, radius: int = 3):
    """Morgan fingerprint pandas UDF factory → ArrayType(IntegerType),
    one molecule per row over the :func:`_morgan_fp` kernel. Zeros on
    NULL or parse failure, matching the reference's contract
    (fingerprints.py:92-99), in both the RDKit and the pure-Python
    environment."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def fp_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, list[int]] = {}
        for s in it:
            def _memoized_fp(x):
                if x not in memo:
                    fp = _morgan_fp(x, n_bits, radius)
                    memo[x] = fp if fp is not None else [0] * n_bits
                return memo[x]

            yield s.map(_memoized_fp)

    return fp_udf


def reaction_fingerprints(df: DataFrame, n_bits: int = 2048, radius: int = 3, slots: int = 5) -> DataFrame:
    """The gen_fp step (fingerprints.py:59-99) as ONE Python pass per
    row: ``df`` plus ``product_fp`` (Morgan fingerprint of
    ``products[0]``), ``rxn_diff_fp`` (``product_fp`` minus the
    fingerprints of the first ``slots`` members of ``reactants``) and
    ``rxn_fp = concat(rxn_diff_fp, product_fp)``, 2·n_bits wide.

    A single scalar-iterator pandas UDF reads ``products[0]`` and the
    ``reactants`` array, looks each molecule up in a per-task memo of
    int32 numpy fingerprints (built with :func:`_morgan_fp`, the kernel
    of :func:`morgan_fingerprint_udf`) and returns the product and
    difference fingerprints as one struct; only the concat runs in the
    JVM. NULL and unparseable molecules count as zero vectors, so
    NULL/empty ``products`` give an all-zero ``product_fp`` and NULL
    reactants subtract nothing."""
    import numpy as np

    n_slots = max(slots, 0)

    @F.pandas_udf("product_fp array<int>, rxn_diff_fp array<int>")
    def fps_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        zeros = np.zeros(n_bits, dtype=np.int32)
        memo: dict[str, np.ndarray] = {}

        def fp(s):
            if s is None:
                return zeros
            v = memo.get(s)
            if v is None:
                raw = _morgan_fp(s, n_bits, radius)
                v = memo[s] = zeros if raw is None else np.asarray(raw, dtype=np.int32)
            return v

        for products, reactants in it:
            prod = np.empty((len(products), n_bits), dtype=np.int32)
            diff = np.empty_like(prod)
            for i, (p, rs) in enumerate(zip(products, reactants)):
                prod[i] = diff[i] = fp(p)
                if rs is not None:
                    for r in rs[:n_slots]:
                        if r is not None:
                            diff[i] -= fp(r)
            yield pd.DataFrame({"product_fp": list(prod), "rxn_diff_fp": list(diff)})

    return (
        df.withColumn("__fps", fps_udf(F.get(F.col("products"), 0), F.col("reactants")))
        .withColumn("product_fp", F.col("__fps.product_fp"))
        .withColumn("rxn_diff_fp", F.col("__fps.rxn_diff_fp"))
        .withColumn("rxn_fp", F.concat(F.col("rxn_diff_fp"), F.col("product_fp")))
        .drop("__fps")
    )


def parsed_morgan_fp_udf(n_bits: int = 2048, radius: int = 3):
    """Engine-PINNED Morgan fingerprint pandas UDF: always the
    pure-Python parser kernel (functions/smiles.py), never RDKit, so
    the values are identical in every environment — the variant the
    DuckDB value oracles replay (x_morgan_fp_parsed /
    m_fp_matrix_sink). Zeros on parse failure, like the reference
    (fingerprints.py:92-99). RDKit agreement is the skip-gated parity
    tests' job, not this UDF's."""
    from orderly_spark.functions.smiles import morgan_fingerprint

    def _fp_one(smiles: str) -> list[int]:
        if smiles is None:
            return [0] * n_bits
        fp = morgan_fingerprint(smiles, radius=radius, n_bits=n_bits)
        return fp if fp is not None else [0] * n_bits

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def fp_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, list[int]] = {}
        for s in it:
            def _memoized_fp(x):
                if x not in memo:
                    memo[x] = _fp_one(x)
                return memo[x]

            yield s.map(_memoized_fp)

    return fp_udf


@F.pandas_udf(T.StringType())
def parsed_canonical_smiles_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
    """Engine-PINNED canonical-SMILES pandas UDF: always the
    pure-Python parser/writer kernel (_parsed_canonicalise_one), never
    RDKit, so values are identical in every environment — the variant
    the DuckDB value oracle replays (x_canonical_smiles). Takes
    ``struct(smiles, is_mapped)`` like canonical_smiles_udf; identity
    pass-through outside the parser subset. RDKit agreement is the
    skip-gated parity tests' job, not this UDF's."""
    memo: dict[tuple[str, bool], str] = {}
    for pdf in it:
        if isinstance(pdf, tuple):
            smiles, mapped = pdf
        else:
            smiles, mapped = pdf.iloc[:, 0], pdf.iloc[:, 1]
        out = []
        for s, m in zip(smiles, mapped):
            if s is None:
                out.append(None)
                continue
            k = (s, bool(m))
            if k not in memo:
                memo[k] = _parsed_canonicalise_one(s, bool(m))
            out.append(memo[k])
        yield pd.Series(out, dtype="object")


def export_fingerprint_matrix_npy(
    df: DataFrame, fp_col: str, path: str, order_col: str
) -> tuple[int, int]:
    """S10 byte-parity sink (fingerprints.py:41-56): the fingerprint
    column collected into a dense int64 numpy matrix and saved as
    ``.npy``, rows in ``order_col`` order — the exact artifact the
    reference's gen_fp step emits for the condition-prediction model.

    DRIVER-SIDE BY DESIGN: the reference's artifact is one dense file,
    so this collects — use only on model-input-sized outputs (the
    post-clean benchmark, ~10⁵ rows). The distributed sink for
    fingerprints at any scale is the parquet ArrayType column
    (m_fp_matrix_sink). Returns the matrix shape."""
    import numpy as np

    rows = df.select(order_col, fp_col).orderBy(order_col).collect()
    mat = np.array([list(r[1]) for r in rows], dtype=np.int64)
    np.save(path, mat)
    return mat.shape


def fingerprint_difference(product_fp: Column, *reactant_fps: Column) -> Column:
    """F15 (fingerprints.py:63-74): product_fp − Σ reactant_fps,
    element-wise via zip_with (JVM-side, no UDF). A NULL fingerprint
    ARRAY contributes zeros (review finding, r8: zip_with(out, NULL)
    returned NULL, poisoning the whole difference — the per-element
    coalesce guarded only NULL members)."""
    zeros = F.transform(product_fp, lambda x: F.lit(0))
    out = product_fp
    for r in reactant_fps:
        out = F.zip_with(out, F.coalesce(r, zeros), lambda a, b: a - F.coalesce(b, F.lit(0)))
    return out


def reaction_fingerprint(product_fp: Column, reactant_fps: Column) -> Column:
    """The gen_fp output row (fingerprints.py:59-74 / BASELINE spec)
    over fingerprint COLUMNS that already exist: ``concat(diff_fp,
    product_fp)`` → 2·n_bits wide, where diff_fp = product_fp −
    Σ reactant_fps (``product_fp``: array<int>; ``reactant_fps``: array
    of fingerprint arrays), summed JVM-side with aggregate + zip_with.

    From SMILES, use :func:`reaction_fingerprints` (what ``gen-fp``
    runs): it builds the product and difference fingerprints of a row
    in one pandas UDF pass, so no fingerprint array is shipped per
    reactant and no zip_with runs in the JVM."""
    zeros = F.transform(product_fp, lambda x: F.lit(0))
    # coalesce(v, zeros): a NULL MEMBER fingerprint contributes zeros
    # (review finding, r8: zip_with(acc, NULL) returned NULL and one
    # missing fp silently nulled the entire reaction fingerprint; the
    # per-element and outer coalesces guarded every level but this one)
    rsum = F.aggregate(
        F.coalesce(reactant_fps, F.array().cast("array<array<int>>")),
        zeros,
        lambda acc, v: F.zip_with(
            acc, F.coalesce(v, zeros), lambda a, b: a + F.coalesce(b, F.lit(0))
        ),
    )
    diff = F.zip_with(product_fp, rsum, lambda a, b: a - b)
    return F.concat(diff, product_fp)
