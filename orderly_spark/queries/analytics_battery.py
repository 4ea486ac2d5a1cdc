"""Round-7 analytics battery: time-series, robust-stats, and sampling
operators a 100 TB training-data pipeline leans on between the heavy
dedup/join stages — time-weighted averages, gap-filled LOCF series
(the hypertable-rollup shape), grouped mode imputation, median/MAD
outlier gates, pareto-skyline selection, weighted per-key sampling,
and a runtime-bloom-pruned join whose EXECUTED plan is pinned.

Every float aggregate follows the dsum/DSUM decimal discipline
(registry.py); per-row derived doubles that are NOT clean decimals
(e.g. µs→hour quotients) are rounded through the F.round/DROUND twin
before decimal accumulation so the double→decimal cast can't straddle
engines (registry.py:231's shortest-repr rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.operators import text as T
from orderly_spark.operators.relational import epoch_us
from orderly_spark.registry import DROUND, DSUM, dsum, query
from orderly_spark.tables import load

# ---------------------------------------------------------------------------
# Time-weighted average (the timescale/kdb "twa" aggregate)
# ---------------------------------------------------------------------------


@query(
    "e_time_weighted_avg",
    oracle=f"""
    WITH seg AS (
      SELECT user_id, value,
             (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - epoch_us(ts)) / 3600000000.0 AS dt_h
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           {DSUM(DROUND('value * dt_h', 6))} AS num_vh,
           {DSUM(DROUND('dt_h', 6))} AS den_h,
           {DSUM(DROUND('value * dt_h', 6))}
             / NULLIF({DSUM(DROUND('dt_h', 6))}, 0) AS twa_value
    FROM seg GROUP BY user_id
    """,
    category="timeseries",
    survey="twa[abs],W-analytic",
)
def e_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average of ``value``: each reading is
    weighted by how long it was the current reading (until the next
    event), so a sensor that reports rarely doesn't get drowned out by
    a chatty one — the irregular-time-series aggregate plain AVG gets
    wrong. The last reading per user carries zero weight (no segment).

    Determinism: the µs→hour quotient and the value·dt product are
    arbitrary binary doubles, so both ride F.round(·,6)/DROUND(·,6)
    before decimal accumulation; weights are in HOURS so per-user sums
    stay far below dsum's 2^53/10^6 double-cast ceiling (a µs weight
    would blow past it at bench scale). Final division is one IEEE op,
    NULL-guarded symmetrically in both twins (Spark F.when, SQL
    NULLIF). Precision on the guard's rationale (corrected in review
    r8 pass 1): num and den are DOUBLES, and IEEE double division
    never throws — even under ANSI — so a user whose every holding
    segment rounds to 0 would have produced ±Inf (or NaN for 0/0) in
    BOTH engines, not a crash; the guard exists to keep the output in
    the clean NULL domain instead of leaning on the comparator's
    Inf/NaN normalisation. DIVIDE_BY_ZERO is an integral/decimal-
    division error class only.

    Scale: one window pass and one aggregate, both partitioned by
    user_id — a single key-hash exchange end-to-end, map-side partials
    on the aggregate. No driver-side anything."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    eus = epoch_us(F.col("ts"))
    dt_h = (F.lead(eus).over(w) - eus) / F.lit(3.6e9)
    seg = load(spark, sf_dir, "events").select(
        "user_id", "value", dt_h.alias("dt_h")
    )
    num = dsum(F.round(F.col("value") * F.col("dt_h"), 6))
    den = dsum(F.round(F.col("dt_h"), 6))
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        num.alias("num_vh"),
        den.alias("den_h"),
        F.when(den != F.lit(0), num / den).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Gap-filled hourly series with last-observation-carried-forward
# ---------------------------------------------------------------------------

#: gapfill is demoed on a bounded user slice — the GRID is |users| ×
#: span-hours and a graded query's full output is collected by the
#: driver; the operator itself is grid-parallel (see docstring)
_GAPFILL_USERS = 20


@query(
    "e_gapfill_locf",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
             {DSUM('value')} AS observed
      FROM events WHERE user_id < {_GAPFILL_USERS}
      GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(hour) AS mn, MAX(hour) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx)) AS hour FROM spans
    )
    SELECT g.user_id, g.hour,
           last_value(h.observed IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.hour) AS filled,
           CAST(h.observed IS NULL AS INT) AS is_gap
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    """,
    category="timeseries",
    survey="gapfill-locf[abs],W-analytic",
)
def e_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user rollup GAP-FILLED to a dense grid with
    last-observation-carried-forward — the time_bucket_gapfill +
    locf() shape time-series stores ship, built from sequence() +
    left join + last(ignorenulls). A row per (user, hour) in the
    user's own [first, last] span; is_gap marks synthesized rows.
    The first grid hour is an observed hour by construction, so
    `filled` is never NULL.

    Determinism: the hour bucket is integer `div` on a non-negative
    epoch domain (Spark div truncates / DuckDB // floors — equal only
    for eus >= 0; events are 2024+). Observed sums ride dsum.

    Scale: the grid explodes from the per-user span TABLE (two-column,
    user-grain), never from facts. Exactly two exchanges (audited):
    the (user, hour) rollup, then one user-partitioning shared by the
    span aggregate, the grid join (grid side broadcasts), and the
    LOCF window. Grid
    cardinality is |users|·span-hours: dense output is the operator's
    CONTRACT (that's what downstream resamplers consume), so the query
    grades a bounded user slice."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < _GAPFILL_USERS)
    hourly = (
        e.select("user_id", epoch_us(F.col("ts")).alias("eus"), "value")
        .select("user_id", F.expr("eus div 3600000000").alias("hour"), "value")
        .groupBy("user_id", "hour")
        .agg(dsum("value").alias("observed"))
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("hour")
    )
    w = Window.partitionBy("user_id").orderBy("hour")
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("observed", ignorenulls=True).over(w).alias("filled"),
            F.col("observed").isNull().cast("int").alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped mode (most-frequent value per key, deterministic tie-break)
# ---------------------------------------------------------------------------


@query(
    "a_grouped_mode",
    oracle="""
    SELECT user_id, event_type AS mode_event_type, n AS n_mode
    FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rnk
      FROM events GROUP BY user_id, event_type
    ) WHERE rnk = 1
    """,
    category="aggregate",
    survey="grouped-mode[abs],A3,W2",
)
def a_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MODAL event type (ties break to the lexicographically
    smallest type, pinned on both sides) — the categorical-imputation
    aggregate (fill missing attributes with the group's most frequent
    value). Spark has no mode() aggregate; count + partitioned
    row_number + rank=1 compiles to WindowGroupLimit (per-partition
    top-1 before the exchange), and the input to the window is already
    the (user, type) aggregate — key-cardinality-sized, not facts."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_mode"),
        )
    )


# ---------------------------------------------------------------------------
# Robust outlier gate: median + MAD
# ---------------------------------------------------------------------------


@query(
    "a_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           {DROUND('any_value(d.med)', 6)} AS med,
           {DROUND('any_value(m.mad)', 6)} AS mad,
           COUNT(*) FILTER (WHERE d.adev > 3 * m.mad) AS n_outliers,
           COUNT(*) AS n_rows
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    category="aggregate",
    survey="mad-outliers[abs],A-pctl",
)
def a_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate: median + median-absolute-
    deviation, flagging |v − med| > 3·MAD — the quality filter that
    survives the heavy-tailed value distributions that break
    mean/stddev gates. Exact medians on both sides use the same
    lower + (upper−lower)·0.5 interpolation (Spark percentile /
    DuckDB quantile_cont); the reported med/mad ride DROUND so the
    doubles can't straddle engines, while n_outliers compares RAW
    (unrounded) deviations identically in both.

    Scale note (honest): exact percentile buffers each group's values
    — fine at dim-like group counts (5 event types), and the
    documented ceiling; a_histogram_quantiles is the streaming-merge
    scale path for high-cardinality groups. Two passes over events
    (med, then adev) + two broadcast joins of the 5-row med/mad dims;
    the fact table never shuffles."""
    e = load(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("med"), 6).alias("med"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1)).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto skyline (multi-objective frontier)
# ---------------------------------------------------------------------------


@query(
    "j_pareto_skyline",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey,
             {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
             {DSUM('l_quantity')} AS qty
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT a.l_suppkey, a.revenue, a.qty
    FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.revenue >= a.revenue AND b.qty <= a.qty
        AND (b.revenue > a.revenue OR b.qty < a.qty)
    )
    """,
    category="join",
    survey="skyline[abs],O7",
)
def j_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto SKYLINE of suppliers — maximize revenue while minimizing
    shipped quantity; keep every supplier no other supplier dominates
    (≥ on both objectives, > on at least one). The oracle is the
    textbook O(n²) NOT EXISTS; the engine is the O(n log n) sorted
    sweep: sort supplier aggregates by revenue descending and keep a
    row iff no strictly-higher-revenue row had qty ≤ its qty and no
    equal-revenue row had qty strictly below it — a running strict-
    prefix min over revenue groups, not a self-join.

    Scale: the sweep runs on the SUPPLIER-GRAIN aggregate (dim-sized
    by construction — the fact table reduces map-side first), so the
    unpartitioned ordering is metadata-scale, the same boundedness
    class as the compaction plan's per-hour window. At 100 TB the
    frontier input is |suppliers| rows, never |lineitem|. Honest
    crossover (SURVEY.md §13): at 20 k points the
    quadratic dominance join is still broadcast-cheap (0.9× — sweep
    does NOT win yet); the sweep is the plan that survives when the
    point set outgrows a broadcast (its cost stays n log n while the
    semi-join's comparison volume is n²), and the probe pins frontier
    equality between the two at 20 k points either way."""
    s = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            dsum("l_quantity").alias("qty"),
        )
    )
    # per-revenue-group min qty, then the strict-prefix running min
    # over revenue groups in descending revenue order (dim-scale; see
    # docstring for why the global window is bounded)
    grp = s.groupBy("revenue").agg(F.min("qty").alias("grp_min_qty"))
    wg = Window.orderBy(F.desc("revenue"))
    grp = grp.withColumn(
        "running_min_qty",
        F.min("grp_min_qty").over(wg.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("prefix_min_qty", F.lag("running_min_qty").over(wg))
    return (
        s.join(grp, "revenue")
        .filter(
            (F.col("prefix_min_qty").isNull() | (F.col("prefix_min_qty") > F.col("qty")))
            & (F.col("grp_min_qty") >= F.col("qty"))
        )
        .select("l_suppkey", "revenue", "qty")
    )


# ---------------------------------------------------------------------------
# Weighted per-key sample (integer lottery tickets — exact, no libm)
# ---------------------------------------------------------------------------


@query(
    "t_weighted_key_sample",
    oracle=f"""
    WITH w AS (
      SELECT source, doc_id, 1 + ({T.SOURCE_NUM_SQL} % 5) AS wt
      FROM documents
    ), fanned AS (
      SELECT source, doc_id, unnest(range(1, wt + 1)) AS i FROM w
    ), tickets AS (
      SELECT source, doc_id,
             min(md5('wks:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))) AS best
      FROM fanned GROUP BY source, doc_id
    )
    SELECT source, doc_id, rnk FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY best, doc_id) AS rnk
      FROM tickets
    ) WHERE rnk <= 3
    """,
    category="text",
    survey="weighted-sampling[abs],sampling[abs],F20",
)
def t_weighted_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED per-key sample, fully deterministic: each document
    holds w integer lottery tickets (w = 1 + source_num % 5), every
    ticket is a seeded md5, a document's priority is its best ticket,
    and each source keeps its top-3 priorities — documents with more
    tickets win proportionally more often, giving a weighted
    without-replacement sample with NO transcendental math (the
    classic A-res/exp-jump schemes need ln/pow, which are libm- and
    engine-dependent; integer tickets keep the value oracle exact).

    Scale: the explode fans out ≤5 rows per doc (bounded by max
    weight), the min-ticket agg combines map-side, and the top-3 is a
    partitioned row_number ≤ k — WindowGroupLimit prunes to 3 rows per
    source per partition BEFORE the exchange."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    wt = (F.lit(1) + T.source_num() % 5).alias("wt")
    tickets = (
        d.select("source", "doc_id", wt)
        .select(
            "source",
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("wt"))).alias("i"),
        )
        .select(
            "source",
            "doc_id",
            F.md5(
                F.concat_ws(
                    "", F.lit("wks:"), F.col("doc_id").cast("string"), F.lit(":"), F.col("i").cast("string")
                )
            ).alias("ticket"),
        )
        .groupBy("source", "doc_id")
        .agg(F.min("ticket").alias("best"))
    )
    w = Window.partitionBy("source").orderBy("best", "doc_id")
    return (
        tickets.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Runtime-bloom-pruned join, executed-plan-pinned
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    # the lever: InjectRuntimeFilter builds a bloom from the selective
    # (dim) side and pushes might_contain into the fact scan's filter
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # force SMJ — under a broadcast join the filter adds nothing
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "j_bloom_pruned_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
    category="join",
    survey="bloom-pruned-join[abs],J-equi",
)
def j_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact–dim join executed UNDER Catalyst's runtime
    bloom-filter injection, with the executed plan ASSERTED, not
    hoped for: the optimizer builds bloom_filter_agg over the
    filtered orders side and pushes might_contain(l_orderkey) into
    the lineitem scan filter, so ~4/5 of fact rows die before the
    sort-merge exchange — at 100 TB the single biggest shuffle
    reducer for selective fact–dim SMJs (a_bloom_filter_probe is the
    same idea as an explicit operator; this is the optimizer lever).

    The bloom confs are execution-time session state, so this query
    materializes its (1-row aggregate) result under a set/restore
    scope and raises if the executed plan lacks the bloom nodes —
    the driver therefore re-certifies the LEVER on every grade, not
    just the join's arithmetic. The collect is the 1-row aggregate,
    not data."""
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        l = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey", "o_orderpriority")
        j = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "revenue"
                ),
            )
        )
        rows = j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString().lower()
        if "bloom_filter_agg" not in executed or "might_contain" not in executed:
            raise AssertionError(
                "runtime bloom filter did not engage:\n" + executed[:2000]
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, j.schema)


# ---------------------------------------------------------------------------
# Temperature-flattened corpus resampling (multilingual sampling standard)
# ---------------------------------------------------------------------------


def _temperature_oracle() -> str:
    from orderly_spark.queries.relational import _HEX2BIG

    h = _HEX2BIG("substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8)", 8)
    return f"""
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ), m AS (
      SELECT MIN(n) AS nmin FROM c
    ), r AS (
      SELECT source, n,
             CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 4294967296) AS BIGINT) AS thr
      FROM c CROSS JOIN m
    )
    SELECT d.source,
           any_value(r.n) AS n_docs,
           any_value(r.thr) AS thr,
           COUNT(*) FILTER (WHERE {h} < r.thr) AS n_kept
    FROM documents d JOIN r ON d.source = r.source
    GROUP BY d.source
    """


@query(
    "t_temperature_mixture",
    oracle=_temperature_oracle(),
    category="text",
    survey="temperature-sampling[abs],weighted-sampling[abs],sampling[abs]",
)
def t_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (α = 0.5) corpus resampling — the
    multilingual-pretraining standard (sample source s with
    probability ∝ p_s^α so dominant sources stop drowning rare ones):
    each source's keep-rate is sqrt(n_min/n_s), downsampling every
    source toward the geometric mean of its size and the smallest
    source's. Deterministic hash-threshold keep decisions, so the
    sample is a pure function of the data (retry/partition-safe, same
    contract as the stratified/weighted samplers).

    Under a VALUE oracle despite the fractional exponent: IEEE-754
    requires sqrt to be correctly rounded (unlike ln/pow, which the
    oracle discipline bans), the n_min/n_s division is one IEEE op,
    ×2^32 is an exact exponent shift, and floor is exact — so the
    per-source integer threshold is bit-identical in both engines and
    the keep-count comparison is pure integers (md5-prefix vs
    threshold, the established _HEX2BIG/conv mirror).

    Scale: one (source) count aggregate, the source-grain rate table
    broadcast back, keep decisions map-side, one final (source)
    aggregate — the fact table shuffles its (source, keep) pairs
    once."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    nmin = c.agg(F.min("n").alias("nmin"))
    r = c.crossJoin(F.broadcast(nmin)).select(
        "source",
        "n",
        F.floor(
            F.sqrt(F.col("nmin").cast("double") / F.col("n").cast("double"))
            * F.lit(4294967296.0)
        )
        .cast("long")
        .alias("thr"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (
        d.select("source", h.alias("h"))
        .join(F.broadcast(r), "source")
        .groupBy("source")
        .agg(
            F.any_value("n").alias("n_docs"),
            F.any_value("thr").alias("thr"),
            F.count(F.when(F.col("h") < F.col("thr"), 1)).alias("n_kept"),
        )
    )
