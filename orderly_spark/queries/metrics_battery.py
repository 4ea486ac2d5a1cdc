"""Evaluation-surface battery (SURVEY A8-A10, F17-F18, W2 — the
condition-prediction consumer's data-prep metrics and the plotter's
aggregates) under the DuckDB gate, driving
``orderly_spark.operators.metrics``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.operators import metrics as M
from orderly_spark.queries.clean_battery import RX_SQL, _reactions
from orderly_spark.registry import query
from orderly_spark.tables import load

COMBO = "list_sort([COALESCE(l_returnflag, 'NULL'), COALESCE(l_linestatus, 'NULL')])"


@query(
    "m_frequency_baseline",
    oracle=f"""
    WITH train AS (
      SELECT {COMBO} AS combo FROM lineitem WHERE l_orderkey % 10 < 9
    ),
    test AS (
      SELECT {COMBO} AS combo FROM lineitem WHERE l_orderkey % 10 >= 9
    ),
    top AS (
      SELECT combo FROM (SELECT combo, COUNT(*) AS n FROM train GROUP BY combo)
      ORDER BY n DESC, combo LIMIT 3
      -- list comparison, NOT array_to_string: the joined string order
      -- diverges from Spark's element-wise array order for values
      -- containing chars below ',' (e.g. '+' in SMILES) — review
      -- finding; DuckDB list ORDER BY is element-wise like Spark
    )
    SELECT (SELECT COUNT(*) FROM test) AS n_test,
           (SELECT COUNT(*) FROM test WHERE combo IN (SELECT combo FROM top)) AS n_hit,
           (SELECT COUNT(*) FROM test WHERE combo IN (SELECT combo FROM top)) /
             CAST((SELECT COUNT(*) FROM test) AS DOUBLE) AS accuracy
    """,
    category="metrics",
    survey="A8,W2",
)
def m_frequency_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (utils.py:211-237): frequency-informed top-k baseline — the
    k most common sorted condition tuples in train, accuracy = fraction
    of test tuples equal to any. Guesses are k rows (broadcast); one
    scan each side."""
    l = load(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus"]
    train = l.filter((F.col("l_orderkey") % 10) < 9)
    test = l.filter((F.col("l_orderkey") % 10) >= 9)
    guesses = M.frequency_informed_guess(train, cols, 3)
    return M.topk_combo_accuracy(test, guesses, cols)


@query(
    "m_set_equality_accuracy",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(CASE WHEN list_sort([COALESCE(l_returnflag, 'NULL'), COALESCE(l_linestatus, 'NULL')])
                       = list_sort([COALESCE(l_linestatus, 'NULL'),
                                    COALESCE(CASE WHEN l_orderkey % 3 = 0 THEN l_returnflag END, 'NULL')])
                    THEN 1 END) AS n_match
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="metrics",
    survey="F18",
)
def m_set_equality_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 (utils.py:74-103): row-level multiset equality of predicted
    vs true tuples (null→'NULL', order-insensitive) — a pure expression
    aggregated per group, no shuffle beyond the final groupBy."""
    l = load(spark, sf_dir, "lineitem").withColumn(
        "pred2", F.when((F.col("l_orderkey") % 3) == 0, F.col("l_returnflag"))
    )
    match = M.set_equality_match(["l_returnflag", "l_linestatus"], ["l_linestatus", "pred2"])
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(match, 1).otherwise(0)).alias("n_match"),
    )


@query(
    "m_ohe_vocab_encode",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT p_brand AS value FROM part
      WHERE p_partkey % 5 < 4 AND p_brand IS NOT NULL
    )
    SELECT p_partkey,
           CASE WHEN p_brand IN (SELECT value FROM vocab) THEN p_brand
                ELSE 'other' END AS p_brand
    FROM part
    """,
    category="metrics",
    survey="F17",
)
def m_ohe_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 (utils.py:27-71): encoder vocabulary fit on the train split
    only; unseen categories → 'other'. Vocab is a broadcast dimension;
    the fact side never shuffles."""
    p = load(spark, sf_dir, "part")
    train = p.filter((F.col("p_partkey") % 5) < 4)
    vocab = M.ohe_vocab(train, "p_brand")
    return M.encode_with_vocab(p, vocab, "p_brand").select("p_partkey", "p_brand")


@query(
    "m_role_popularity_top20",
    oracle=f"""
    WITH {RX_SQL}
    SELECT m AS molecule, COUNT(*) AS n
    FROM (SELECT unnest(agents) AS m FROM rx)
    GROUP BY m
    ORDER BY n DESC, m
    LIMIT 20
    """,
    category="metrics",
    survey="A9,W2,O7",
)
def m_role_popularity_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W2 (plotter.py:160-181,289-330): top-N most frequent role
    members. Two-phase hash count then a global top-N — the orderBy+
    limit reduces to a TakeOrdered over per-partition candidates, not
    a full sort."""
    rx = _reactions(spark, sf_dir)
    return M.role_popularity(rx, "agents", 20)


@query(
    "m_rare_threshold_sweep",
    oracle=f"""
    WITH {RX_SQL},
    counts AS (
      SELECT m, COUNT(*) AS cnt
      FROM (SELECT unnest(agents || solvents) AS m FROM rx)
      GROUP BY m
    ),
    rowmin AS (
      SELECT rx.rid,
             COALESCE((
               SELECT MIN(c.cnt) FROM unnest(rx.agents || rx.solvents) AS u(m)
               JOIN counts c ON c.m = u.m
             ), 4611686018427387904) AS mn
      FROM rx
    )
    SELECT t.threshold,
           COUNT(CASE WHEN mn >= t.threshold THEN 1 END) AS rows_surviving
    FROM rowmin, unnest([0, 2, 4, 8, 16]) AS t(threshold)
    GROUP BY t.threshold
    """,
    category="metrics",
    survey="A10,A5",
)
def m_rare_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (plotter.py:211-273): dataset-size-vs-rare-threshold sweep
    in ONE fact scan (reference loops the whole removal per threshold).
    Survival is monotone in the row's rarest molecule count: global
    counts (broadcast) → per-row min → |thresholds| output rows."""
    rx = _reactions(spark, sf_dir)
    out = M.rare_threshold_sweep(rx, ["agents", "solvents"], [0, 2, 4, 8, 16])
    return out.withColumn("threshold", F.col("threshold").cast("int"))


@query(
    "m_topn_combination_accuracy",
    oracle="""
    WITH base AS (
      SELECT DISTINCT l_orderkey AS rid, l_returnflag AS rf, l_linestatus AS ls,
             (l_orderkey % 10) / 10.0 AS pa
      FROM lineitem WHERE l_orderkey < 2000 AND l_linenumber = 1
    ),
    combos AS (
      SELECT rid, rf, ls,
             a.p * b.p AS p,
             list_sort([a.v, b.v]) AS t,
             list_sort([rf, ls]) AS truth
      FROM base,
           UNNEST([{'v': rf, 'p': pa}, {'v': 'X', 'p': 1.0 - pa}]) AS ca(a),
           UNNEST([{'v': ls, 'p': 0.7}, {'v': 'Y', 'p': 0.3}]) AS cb(b)
    ),
    ranked AS (
      SELECT rid, rf, ls, t, truth,
             row_number() OVER (PARTITION BY rid, rf, ls
                                ORDER BY p DESC, array_to_string(t, ',')) AS rn
      FROM combos
    )
    SELECT rid, rf, ls, MAX(CASE WHEN rn <= 2 AND t = truth THEN 1 ELSE 0 END) = 1 AS hit
    FROM ranked GROUP BY rid, rf, ls
    """,
    category="metrics",
    survey="F19",
)
def m_topn_combination_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 (utils.py:106-208): probability-ranked top-n combination
    accuracy, per row, as a pure codegen expression (the k×k combo
    cross-product never leaves the row)."""
    l = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") < 2000) & (F.col("l_linenumber") == 1))
        .select(
            F.col("l_orderkey").alias("rid"),
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            ((F.col("l_orderkey") % 10) / 10.0).alias("pa"),
        )
        .distinct()
    )
    cand = lambda v, p: F.struct(v.alias("v"), p.alias("p"))  # noqa: E731
    ca = F.array(cand(F.col("rf"), F.col("pa")), cand(F.lit("X"), 1.0 - F.col("pa")))
    cb = F.array(cand(F.col("ls"), F.lit(0.7)), cand(F.lit("Y"), F.lit(0.3)))
    truth = F.array_sort(F.array(F.col("rf"), F.col("ls")))
    return l.select("rid", "rf", "ls", M.topn_combination_match(ca, cb, truth, 2).alias("hit"))


# ---------------------------------------------------------------------------
# F15 — fingerprint difference (gen_fp's diff_fp, pure zip_with)
# ---------------------------------------------------------------------------

@query(
    "m_fingerprint_difference",
    oracle="""
    SELECT p_partkey AS pk,
           array_to_string([
             (p_partkey % 7 + 3) - (p_partkey % 3) - 1,
             (p_partkey % 5)     - (p_partkey % 2) - 0,
             (p_partkey % 11)    - (p_partkey % 7) - (p_partkey % 2)
           ], ',') AS diff_fp
    FROM part WHERE p_partkey % 9 = 0
    """,
    category="metrics",
    survey="F15,F14",
)
def m_fingerprint_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 (fingerprints.py:63-74): product_fp − Σ reactant_fps,
    element-wise via chained zip_with — fully JVM-side, no UDF in the
    arithmetic (the fingerprint VECTORS come from the F14 dimension
    build; here they are synthesised arithmetically so the oracle can
    mirror the exact values)."""
    from orderly_spark.functions.chem import fingerprint_difference

    p = load(spark, sf_dir, "part").filter((F.col("p_partkey") % 9) == 0)
    k = F.col("p_partkey")
    prod = F.array(k % 7 + 3, k % 5, k % 11)
    r1 = F.array(k % 3, k % 2, k % 7)
    r2 = F.array(F.lit(1).cast("bigint"), F.lit(0).cast("bigint"), k % 2)
    diff = fingerprint_difference(prod, r1, r2)
    return p.select(
        k.alias("pk"),
        F.concat_ws(",", F.transform(diff, lambda x: x.cast("string"))).alias("diff_fp"),
    )


# ---------------------------------------------------------------------------
# S10 — fingerprint matrix sink (ArrayType column round trip)
# ---------------------------------------------------------------------------

def _fp_sink_oracle() -> str:
    """VALUES rows for m_fp_matrix_sink's oracle: per-template total
    feature count from the SAME pure-Python kernel the UDF runs
    (replayed-kernel epistemics — see extract_battery._fp_literal_rows;
    tests/test_smiles.py establishes the kernel independently). The
    total is n_bits-independent: folding preserves counts."""
    from orderly_spark.functions.smiles import morgan_fingerprint

    from orderly_spark.queries.extract_battery import FP_TEMPLATES, _FP_TEMPLATES_SQL

    rows = ",".join(
        f"('{t}', {sum(morgan_fingerprint(t, radius=2, n_bits=64))})" for t in FP_TEMPLATES
    )
    return f"""
    WITH {{rx}},
    tpl(mol, total_count) AS (VALUES {rows}),
    mols AS (SELECT DISTINCT m FROM (SELECT unnest(reactants) AS m FROM rx)),
    mapped AS (SELECT m, {_FP_TEMPLATES_SQL}[1 + CAST(m AS INT) % {len(FP_TEMPLATES)}] AS mol
               FROM mols)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           64 AS min_width, 64 AS max_width,
           CAST(SUM(total_count) AS BIGINT) AS total_bits
    FROM mapped JOIN tpl USING (mol)
    """


@query(
    "m_fp_matrix_sink",
    oracle=_fp_sink_oracle().format(rx=RX_SQL),  # VALUE-GATED since r11
    category="metrics",
    survey="S10,F14",
)
def m_fp_matrix_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 (fingerprints.py:41-56): the dense fingerprint matrix as an
    ArrayType(Int) parquet column, written and read back — the engine's
    stand-in for the reference's .npy sink (SURVEY §1.2 maps the numpy
    matrix to an array column; a collect-side .npy export utility
    remains possible for byte parity). Certifies: UDF over the DISTINCT
    molecule dimension only, sink round trip, stable matrix width.

    VALUE-GATED since r11 (was rows-only): the scaffold's numeric
    molecule ids map onto the curated parseable SMILES templates and
    the engine-pinned pure-Python Morgan kernel replaces the r10-era
    md5 pseudo-fingerprint, so the oracle can replay per-template
    totals (see _fp_sink_oracle)."""
    import tempfile

    from orderly_spark.functions.chem import parsed_morgan_fp_udf
    from orderly_spark.queries.extract_battery import FP_TEMPLATES

    rx = _reactions(spark, sf_dir)
    n_bits = 64
    tpl = F.array(*[F.lit(t) for t in FP_TEMPLATES])
    mols = rx.select(F.explode("reactants").alias("m")).distinct()
    mol_smiles = F.element_at(tpl, (F.col("m").cast("int") % len(FP_TEMPLATES) + 1).cast("int"))
    fps = mols.withColumn("fp", parsed_morgan_fp_udf(n_bits=n_bits, radius=2)(mol_smiles))
    root = tempfile.mkdtemp(prefix="orderly_fp_sink_")
    d = root + "/fp_matrix"
    fps.write.parquet(d)
    back = spark.read.parquet(d)
    from orderly_spark.tables import materialize_then_clean

    return materialize_then_clean(
        back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.size("fp")).alias("min_width"),
            F.max(F.size("fp")).alias("max_width"),
            F.sum(F.aggregate("fp", F.lit(0).cast("bigint"), lambda a, b: a + b)).alias("total_bits"),
        ),
        root,
    )


# ---------------------------------------------------------------------------
# A8+F17-F19 composed — the reference's frequency-baseline benchmark
# table (run.py:172-269 get_frequency_informed_guess +
# utils.py:211-237 frequency_informed_accuracy)
# ---------------------------------------------------------------------------

_CPB_GROUPS = """
    wide AS (
      SELECT rid, (rid % 10) < 9 AS is_train,
             solvents[1] AS s0, solvents[2] AS s1,
             agents[1] AS a0, agents[2] AS a1, agents[3] AS a2
      FROM rx
    ),
    tall AS (
      SELECT is_train, 'solvent' AS grp,
             list_sort([COALESCE(s0,'NULL'), COALESCE(s1,'NULL')]) AS combo
      FROM wide
      UNION ALL
      SELECT is_train, 'agent',
             list_sort([COALESCE(a0,'NULL'), COALESCE(a1,'NULL'),
                        COALESCE(a2,'NULL')])
      FROM wide
      UNION ALL
      SELECT is_train, 'overall',
             list_sort([COALESCE(s0,'NULL'), COALESCE(s1,'NULL'),
                        COALESCE(a0,'NULL'), COALESCE(a1,'NULL'),
                        COALESCE(a2,'NULL')])
      FROM wide
    ),
    counts AS (
      SELECT grp, combo,
             COUNT(CASE WHEN is_train THEN 1 END) AS train_n,
             COUNT(CASE WHEN NOT is_train THEN 1 END) AS test_n
      FROM tall GROUP BY grp, combo
    ),
    ranked AS (
      SELECT grp, test_n,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY train_n DESC, combo) AS rn
      FROM counts WHERE train_n > 0
    ),
    hits AS (
      SELECT grp,
             CAST(SUM(CASE WHEN rn <= 1 THEN test_n ELSE 0 END) AS BIGINT) AS hit1,
             CAST(SUM(CASE WHEN rn <= 3 THEN test_n ELSE 0 END) AS BIGINT) AS hit3
      FROM ranked GROUP BY grp
    ),
    totals AS (
      SELECT grp, CAST(SUM(test_n) AS BIGINT) AS n_test FROM counts GROUP BY grp
    )
"""


@query(
    "m_condition_benchmark_table",
    oracle=f"""
    WITH {RX_SQL},
    {_CPB_GROUPS}
    SELECT component_group, top_k, n_test, n_hit,
           n_hit / CAST(n_test AS DOUBLE) AS accuracy
    FROM (
      SELECT t.grp AS component_group, CAST(1 AS BIGINT) AS top_k,
             t.n_test, h.hit1 AS n_hit
      FROM totals t JOIN hits h ON t.grp = h.grp
      UNION ALL
      SELECT t.grp, CAST(3 AS BIGINT), t.n_test, h.hit3
      FROM totals t JOIN hits h ON t.grp = h.grp
    )
    ORDER BY component_group, top_k
    """,
    category="metrics",
    survey="A8,F17,F18,F19,W2",
)
def m_condition_benchmark_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The condition-prediction benchmark table the reference publishes
    (run.py:172-269 via utils.py:211-237): frequency-informed baseline
    accuracy for the solvent pair (mol_1/mol_2), the agent triple
    (mol_3..mol_5), and the overall 5-tuple, each at top-1 and top-3 —
    six (component_group, top_k, accuracy) rows over the synthetic
    reactions' wide columns with the 90/10 modulo split.

    Semantics per the reference: tuples are null→'NULL' and sorted
    (order-insensitive multisets), guesses are the k most common TRAIN
    tuples (combos absent from train can never be guessed), accuracy =
    matching test rows / test rows. Tie-break at the top-k boundary is
    the tuple text (the reference inherits Counter insertion order —
    row-order dependent; documented determinism choice, same as
    frequency_informed_guess).

    100 TB shape — ONE pass, unlike the reference's 6 numpy sweeps:
    project the five condition columns, explode each row into its 3
    group tuples (shuffle payload = tuples only, documents never ride),
    ONE (grp, combo) count with map-side partials carrying train/test
    counts together, a dimension-sized rank window, two tiny aggs."""
    return condition_benchmark_table(_reactions(spark, sf_dir))


def condition_benchmark_table(rx: DataFrame) -> DataFrame:
    """The benchmark-table pipeline on an arbitrary reactions frame
    (rid, solvents, agents), behind the gated query above."""
    from pyspark.sql import Window

    def nft(cols):
        return F.array_sort(F.array(*[F.coalesce(c, F.lit("NULL")) for c in cols]))

    # try_element_at: out-of-range slots are NULL wide columns (ANSI
    # element_at throws; DuckDB list indexing returns NULL)
    s0, s1 = F.try_element_at("solvents", F.lit(1)), F.try_element_at("solvents", F.lit(2))
    a0, a1, a2 = (F.try_element_at("agents", F.lit(i)) for i in (1, 2, 3))
    tall = rx.select(
        ((F.col("rid") % 10) < 9).alias("is_train"),
        F.explode(
            F.array(
                F.struct(F.lit("solvent").alias("grp"), nft([s0, s1]).alias("combo")),
                F.struct(F.lit("agent").alias("grp"), nft([a0, a1, a2]).alias("combo")),
                F.struct(
                    F.lit("overall").alias("grp"),
                    nft([s0, s1, a0, a1, a2]).alias("combo"),
                ),
            )
        ).alias("e"),
    ).select("is_train", F.col("e.grp").alias("grp"), F.col("e.combo").alias("combo"))
    counts = tall.groupBy("grp", "combo").agg(
        F.count(F.when(F.col("is_train"), True)).alias("train_n"),
        F.count(F.when(~F.col("is_train"), True)).alias("test_n"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("train_n"), F.col("combo"))
    ranked = counts.filter(F.col("train_n") > 0).withColumn("rn", F.row_number().over(w))
    hits = ranked.groupBy("grp").agg(
        F.sum(F.when(F.col("rn") <= 1, F.col("test_n")).otherwise(0)).alias("hit1"),
        F.sum(F.when(F.col("rn") <= 3, F.col("test_n")).otherwise(0)).alias("hit3"),
    )
    totals = counts.groupBy("grp").agg(F.sum("test_n").alias("n_test"))
    joined = totals.join(hits, "grp")
    out = joined.select(
        F.col("grp").alias("component_group"),
        "n_test",
        F.explode(
            F.array(
                F.struct(F.lit(1).cast("long").alias("top_k"), F.col("hit1").alias("n_hit")),
                F.struct(F.lit(3).cast("long").alias("top_k"), F.col("hit3").alias("n_hit")),
            )
        ).alias("e"),
    ).select(
        "component_group",
        F.col("e.top_k").alias("top_k"),
        "n_test",
        F.col("e.n_hit").alias("n_hit"),
        (F.col("e.n_hit") / F.col("n_test").cast("double")).alias("accuracy"),
    )
    return out.orderBy("component_group", "top_k")
