"""Round-4 curation operators: repetition-quality signals, document
chunking, per-document salient terms, and CDC latest-state compaction.

These extend the LLM-data-pipeline surface (SURVEY beyond-reference
section): Gopher-style repetition filters are the standard second
quality gate after length/stopword scoring; fixed-size token chunking
is how documents become training sequences; salient-term extraction is
the cheap relevance signal; latest-state compaction is the CDC pattern
every incrementally-updated corpus needs.

All pure Catalyst expressions / relational ops — no Python UDFs, no
collects. Float discipline: every double here is produced by single
IEEE +,-,*,/ steps on exact integers (no transcendentals, no
order-dependent float sums), so Spark and DuckDB are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orderly_spark.operators import text as T
from orderly_spark.registry import query
from orderly_spark.tables import load

TOKS = T.TOKENS_SQL("text")


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

@query(
    "t_repetition_signals",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 200
    ), g AS (
      SELECT doc_id, toks, len(toks) AS n,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS bigrams
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           {T.DUP_RATIO_SQL('toks', 'n')} AS dup_token_ratio,
           CASE WHEN len(bigrams) > 0
                THEN CAST(list_aggregate(
                       list_transform(list_distinct(bigrams),
                                      x -> len(list_filter(bigrams, b -> b = x))),
                       'max') AS DOUBLE) / len(bigrams)
                ELSE 0.0 END AS top_bigram_ratio
    FROM g
    """,
    category="curation",
    survey="quality[abs],repetition[abs]",
)
def t_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-token ratio (1 - distinct/total) and the OCCURRENCE
    share of the single most frequent word bigram (max bigram count /
    total bigrams — Gopher §A1.1's variant measures the CHARACTER
    share; this column is the count-fraction analogue, so its
    published thresholds don't transfer 1:1) — the filters that catch
    boilerplate/spam which length- and stopword-based scoring misses
    (cf. Rae et al. 2021).

    Pure per-row array expressions — computed inside the scan stage,
    zero shuffles before the (absent) aggregation, so at 100 TB this
    runs at scan speed like the other quality signals. The
    top-bigram mode is an O(distinct × total) per-document nested
    scan — bounded by document length, never by corpus size."""
    d = load(spark, sf_dir, "documents", fan_out=True).filter(F.col("doc_id") < 200)
    toks = T.tokens("text")
    d = d.select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at("__toks", i), F.element_at("__toks", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("__bg", bigrams)
    nb = F.size("__bg")
    top = F.array_max(
        F.transform(
            F.array_distinct("__bg"),
            lambda x: F.size(F.filter("__bg", lambda b: b == x)),
        )
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        T.dup_ratio(F.col("__toks"), n).alias("dup_token_ratio"),
        F.when(nb > 0, top.cast("double") / nb).otherwise(F.lit(0.0)).alias("top_bigram_ratio"),
    )


# ---------------------------------------------------------------------------
# Fixed-size token chunking (documents → training sequences)
# ---------------------------------------------------------------------------

# geometry shared with the training-prep capstone via operators/text.py
# (review r6: the chunking expressions were hand-synced copies)
_CHUNK, _STRIDE = T.CHUNK, T.STRIDE


@query(
    "t_doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({TOKS}) AS n FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS chunk_start,
           CAST({T.CHUNK_TOKENS_SQL('n')} AS BIGINT) AS chunk_tokens
    FROM (SELECT doc_id, n, {T.CHUNK_STARTS_SQL('n')} FROM t WHERE n > 0)
    """,
    category="curation",
    survey="chunking[abs],packing[abs]",
)
def t_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: each document yields
    64-token training sequences starting every 48 tokens
    (16-token overlap) — the standard way long documents become
    context-window-sized samples. One row per (doc, chunk) via a real
    explode; chunk_idx derives arithmetically from the start offset so
    no positional explode state is needed.

    Map-side only (explode fuses into the scan stage); output
    cardinality is Σ ceil(n_tokens/stride) — the chunking itself never
    shuffles, so at 100 TB it is part of whatever pipeline consumes
    the chunks."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    t = d.select("doc_id", T.token_count(F.col("text")).alias("n")).filter(F.col("n") > 0)
    t = t.withColumn("start", T.chunk_starts(F.col("n")))
    return t.select(
        "doc_id",
        F.floor((F.col("start") - 1) / _STRIDE).alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        T.chunk_tokens(F.col("n"), F.col("start")).cast("long").alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-document salient terms (tf × rareness ranking)
# ---------------------------------------------------------------------------

@query(
    "t_salient_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT doc_id, term, tf, df,
             tf / (df + 1.0) AS score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tf / (df + 1.0) DESC, term) AS BIGINT) AS rank
      FROM tf JOIN df USING (term)
      WHERE doc_id < 100
    ) WHERE rank <= 3
    """,
    category="curation",
    survey="tfidf[abs],A3",
)
def t_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document ranked by tf/(df+1) — term
    frequency × corpus rareness, the log-free tf-idf variant (a single
    IEEE division, so the oracle is bit-exact; ln() would differ
    between libms). Document frequency is computed over the FULL
    corpus, the ranking over a bounded doc range.

    Scale shape: explode → (doc, term) count (map-side partial agg
    collapses duplicate terms before the shuffle) → per-term df
    re-aggregate → equi-join back on term → per-doc top-k window.
    Shuffles carry (doc_id, term, count) triples only. The df side is
    Zipf-skewed at corpus scale — AQE skew handling splits the hot
    stop-term partitions, or drop terms with df > threshold first
    (they can never rank: score ≤ tf/df_min)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df, "term")
        .filter(F.col("doc_id") < 100)
        .withColumn("score", F.col("tf") / (F.col("df") + F.lit(1.0)))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# ---------------------------------------------------------------------------
# CDC latest-state compaction (upsert semantics over an event log)
# ---------------------------------------------------------------------------

# Argmax total order (r14, found by the tenth — hostile-lakehouse —
# corpus): (ts, event_id) alone left rows equal in both but differing
# in event_type/value rankable either way (two concurrent writers
# committing the same key), so the "latest" row diverged between
# engines; the order now covers every payload column — ties are
# confined to fully identical, interchangeable rows.
LATEST_STATE_ORACLE = """
    SELECT user_id, n_events, last_ts, last_event_type, last_value FROM (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events,
             ts AS last_ts, event_type AS last_event_type, value AS last_value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC,
                                         event_type DESC NULLS LAST,
                                         value DESC NULLS LAST) AS rn
      FROM events
    ) WHERE rn = 1
    """


@query(
    "e_latest_state_per_key",
    oracle=LATEST_STATE_ORACLE,
    category="relational",
    survey="cdc-compaction[abs],W2",
)
def e_latest_state_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-state compaction: collapse an append-only event log
    to one current-state row per key (argmax by event time, event_id
    as the deterministic tiebreak) — the upsert/merge pattern every
    incrementally-maintained corpus or feature store runs on each
    batch. One hash(user_id) exchange serves both the row_number and
    the per-key count (same window partitioning). At 100 TB this is
    the compaction step of a merge-on-read table: partition the log by
    key-hash bucket and the same single-shuffle plan holds.

    r14: the argmax order extends past (ts, event_id) to every payload
    column (see LATEST_STATE_ORACLE) so concurrent same-key writes —
    rows tying on id AND time with different payloads — compact to the
    same survivor on every engine and batch decomposition."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"),
        F.desc_nulls_last("event_type"), F.desc_nulls_last("value"),
    )
    wc = Window.partitionBy("user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 interval build (gaps-and-islands over a change log)
# ---------------------------------------------------------------------------

SCD2_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS LAST, event_id) AS rn,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS LAST, event_id) AS prev_type,
             COUNT(*) OVER (PARTITION BY user_id) AS n_user
      FROM events
    ), starts AS (
      SELECT * FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn) AS valid_to,
           COALESCE(LEAD(rn) OVER (PARTITION BY user_id ORDER BY rn), n_user + 1) - rn
             AS n_events_in_run
    FROM starts
    """


@query(
    "e_scd2_state_intervals",
    oracle=SCD2_ORACLE,
    category="relational",
    survey="scd2[abs],W-ntile",
)
def e_scd2_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from a change log: collapse each per-user
    run of consecutive identical states (event_type) into one validity
    interval [valid_from, valid_to) — valid_to NULL marks the current
    state — plus the run length. The gaps-and-islands pattern every
    warehouse uses to turn CDC streams into slowly-changing-dimension
    tables.

    ONE shuffle total: every window partitions by user_id with a
    ts-compatible ordering (run starts are detected with lag, run
    length from the NEXT start's row_number instead of a re-shuffling
    group-by), so Catalyst reuses a single hash(user_id) exchange for
    lag, count, and both leads. At 100 TB the log is already bucketed
    by key → zero exchanges."""
    e = load(spark, sf_dir, "events")
    # NULLS pinned explicitly: Spark's asc default is NULLS FIRST but
    # DuckDB's is NULLS LAST — on any NULL ts the run boundaries would
    # silently diverge (latent; pinned per review r6)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    wu = Window.partitionBy("user_id")
    seq = (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("n_user", F.count(F.lit(1)).over(wu))
    )
    starts = seq.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    wr = Window.partitionBy("user_id").orderBy("rn")
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wr).alias("valid_to"),
        (
            F.coalesce(F.lead("rn").over(wr), F.col("n_user") + 1) - F.col("rn")
        ).alias("n_events_in_run"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train ∩ eval n-gram overlap)
# ---------------------------------------------------------------------------

# eval/benchmark membership is a SCALE-FREE modulus of doc_id (10% of
# the corpus at every SF), not an absolute id cutoff: the old
# `doc_id >= 450` inverted at bench scale sf0.1 (5000 docs -> 91%
# "eval", 450 train), so the benched pipeline mostly measured building
# the eval shingle set (review r6). Same device as the snapshot-diff
# query.
_EVAL_MOD, _EVAL_RES = 10, 9  # doc_id % 10 == 9 -> eval set


@query(
    "t_benchmark_decontamination",
    oracle=f"""
    WITH train AS (
      SELECT doc_id, unnest({T.SHINGLES_SQL(TOKS, 5)}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} <> {_EVAL_RES}
    ), eval_sh AS (
      SELECT doc_id AS eval_doc, unnest({T.SHINGLES_SQL(TOKS, 5)}) AS shingle
      FROM documents WHERE doc_id % {_EVAL_MOD} = {_EVAL_RES}
    )
    SELECT t.doc_id,
           COUNT(DISTINCT t.shingle) AS n_shared_shingles,
           COUNT(DISTINCT e.eval_doc) AS n_eval_docs_hit
    FROM train t JOIN eval_sh e USING (shingle)
    GROUP BY t.doc_id
    """,
    category="curation",
    survey="decontamination[abs],J-semi",
)
def t_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    5-word shingle with a held-out eval set (here: the doc_id tail) —
    the n-gram overlap scrub every serious pretraining pipeline runs
    against its benchmark suites (the GPT-3 appendix-C procedure,
    re-expressed relationally). Output per contaminated train doc: how
    many distinct shingles leak and how many eval docs they hit.

    Scale shape: both sides explode to (doc, shingle) with per-doc
    distinct shingles (shingles() de-dups map-side); the join is an
    equi-join on the shingle string. The eval side is benchmark-sized
    (thousands of docs, not billions) → broadcast it and the train
    corpus is scanned once with zero shuffle before the per-doc
    aggregate; at 100 TB hash the shingle to 16 bytes first so the
    broadcast carries hashes, not text."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    sh = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(T.shingles(T.tokens("text"), 5)).alias("shingle")
    )
    train = sh(d.filter(F.col("doc_id") % _EVAL_MOD != _EVAL_RES))
    ev = sh(d.filter(F.col("doc_id") % _EVAL_MOD == _EVAL_RES)).withColumnRenamed(
        "doc_id", "eval_doc"
    )
    return (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff (incremental-update CDC between two versions)
# ---------------------------------------------------------------------------

@query(
    "d_corpus_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0
    ), new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END) AS h
      FROM documents WHERE doc_id % 3 != 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h != n.h
    """,
    category="curation",
    survey="snapshot-diff[abs],J-outer",
)
def d_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: classify every document as added /
    removed / changed between two corpus versions by full-outer-joining
    on doc id and comparing content hashes — the CDC step that turns
    "re-crawl everything" into an incremental update (only the diff
    re-enters dedup/quality/indexing). The two snapshots are
    deterministic scaffolds of the documents table (membership by
    doc_id modulus, content revision on every 5th doc).

    Scale shape: each side reduces to (doc_id, 16-byte hash) map-side
    before the join — the shuffle carries ~24 B/row however large the
    documents are. Unchanged docs (the overwhelming majority of a real
    snapshot pair) are filtered immediately after the join, so nothing
    downstream sees them."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # presence is tested via explicit flags, not hash-nullness: md5 of
    # a NULL text would be NULL too, and the oracle's o.doc_id IS NULL
    # test would then diverge from a hash-null test (review finding;
    # latent here since text is never NULL, but flags cost nothing)
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h_old"), F.lit(True).alias("in_old")
    )
    new = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))).otherwise(
                F.col("text")
            )
        ).alias("h_new"),
        F.lit(True).alias("in_new"),
    )
    j = old.join(new, "doc_id", "full")
    absent_old = F.col("in_old").isNull()
    absent_new = F.col("in_new").isNull()
    status = (
        F.when(absent_old, F.lit("added"))
        .when(absent_new, F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(absent_old | absent_new | (F.col("h_old") != F.col("h_new")))
        .select("doc_id", status.alias("status"))
    )


# ---------------------------------------------------------------------------
# The end-to-end training-data prep pipeline (round-4 capstone)
# ---------------------------------------------------------------------------

def _training_prep_oracle() -> str:
    stop_list = ", ".join(repr(w) for w in T.STOPWORDS)
    sh5 = T.SHINGLES_SQL("t", 5)
    return rf"""
    WITH raw AS (
      SELECT doc_id, source, text, {TOKS} AS t, len(text) AS n_chars_txt FROM documents
    ), feat AS (
      SELECT doc_id, source, t,
             len(t) AS n_tokens,
             {T.DUP_RATIO_SQL('t', 'len(t)')} AS dup_ratio,
             CASE WHEN len(t) > 0 THEN
               len(list_filter(t, x -> x IN ({stop_list}))) / CAST(len(t) AS DOUBLE)
             ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_chars_txt > 0 THEN
               CAST(n_chars_txt - len(regexp_replace(text, '{T.PUNCT_CLASS}', '', 'g')) AS DOUBLE) / n_chars_txt
             ELSE 0.0 END AS punct_ratio
      FROM raw
    ), gated AS (
      SELECT * FROM feat
      WHERE n_tokens >= 10
        AND dup_ratio <= 0.6
        AND least(n_tokens / 100.0, 1.0) * 0.4
            + least(stopword_ratio * 5.0, 1.0) * 0.4
            + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 >= 0.5
    ), ex AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(array_to_string(t, ' '))) AS keeper
        FROM gated
      ) WHERE doc_id = keeper
    ), eval_sh AS (
      SELECT DISTINCT unnest({sh5}) AS shingle FROM raw WHERE doc_id % {_EVAL_MOD} = {_EVAL_RES}
    ), contaminated AS (
      SELECT DISTINCT e.doc_id
      FROM (SELECT doc_id, unnest({sh5}) AS shingle
            FROM ex WHERE doc_id % {_EVAL_MOD} <> {_EVAL_RES}) e
      JOIN eval_sh USING (shingle)
    ), decon AS (
      SELECT * FROM ex
      WHERE doc_id % {_EVAL_MOD} <> {_EVAL_RES} AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), sampled AS (
      SELECT * FROM decon WHERE {T.SAMPLE_KEEP_SQL('doc_id')}
    ), chunks AS (
      SELECT source, doc_id,
             {T.CHUNK_TOKENS_SQL('n_tokens')} AS chunk_tokens
      FROM (SELECT source, doc_id, n_tokens, {T.CHUNK_STARTS_SQL('n_tokens')}
            FROM sampled)
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS n_chunk_tokens
    FROM chunks GROUP BY source
    """


@query(
    "t_training_prep_pipeline",
    oracle=_training_prep_oracle(),
    category="curation",
    survey="quality[abs],repetition[abs],A6,decontamination[abs],sampling[abs],chunking[abs]",
)
def t_training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data prep path in ONE lazy plan — the
    round-4 capstone composition: quality gate (score ≥ 0.5, ≥ 10
    tokens) + repetition gate (dup-token ratio ≤ 0.6) → exact dedup
    (min-doc_id survivor per normalised-text hash) → benchmark
    decontamination (drop any train doc sharing a 5-gram with the
    eval set, doc_id % _EVAL_MOD == _EVAL_RES) → per-source
    stratified sampling (hash-threshold) → 64/48 sliding-window
    chunking → per-source chunk statistics. Every stage is
    value-exact, so the whole composition sits under one DuckDB
    oracle.

    Scale shape (r12 accounting fix — the r11 wording over-claimed):
    documents cross exactly TWO exchanges end to end. (1) the fan_out
    round-robin repartition at the scan; (2) the exact-dedup window's
    hash partition by md5(tokens) — and that one necessarily carries
    ``text``, because shingling and chunking still need it downstream
    (projecting text out and re-joining it back would trade this
    shuffle for an equally text-heavy join shuffle, not remove it: one
    full-document shuffle is inherent to dedup-then-reuse, and the
    single-window form is the minimal shape for it). Everything else
    stays off the fact table: decontamination broadcasts the
    benchmark-sized eval shingle set, the contaminated-id set and the
    final per-source aggregate shuffle only ids/scalars. The exchange
    count is pinned by test_plans.py
    (test_training_prep_exchange_ceiling)."""
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "source", "text")
    q = T.quality_features(d, "text")
    toks = T.tokens("text")
    gated = q.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("quality_score") >= 0.5)
        & (T.dup_ratio(toks, F.col("n_tokens")) <= 0.6)
    )
    norm = F.md5(F.concat_ws(" ", toks))
    ex = (
        gated.withColumn("__keep", F.min("doc_id").over(Window.partitionBy(norm)))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    sh5 = T.shingles(toks, 5)
    eval_sh = (
        d.filter(F.col("doc_id") % _EVAL_MOD == _EVAL_RES)
        .select(F.explode(sh5).alias("shingle"))
        .distinct()
    )
    train = ex.filter(F.col("doc_id") % _EVAL_MOD != _EVAL_RES)
    contaminated = (
        train.select("doc_id", F.explode(sh5).alias("shingle"))
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    decon = train.join(contaminated, "doc_id", "left_anti")
    sampled = decon.filter(T.sample_keep("doc_id"))
    chunks = sampled.select(
        "source",
        "doc_id",
        T.chunk_starts(F.col("n_tokens")).alias("start"),
        "n_tokens",
    ).select(
        "source",
        "doc_id",
        T.chunk_tokens(F.col("n_tokens"), F.col("start")).alias("chunk_tokens"),
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus-level span dedup + document rebuild (C4-style)
# ---------------------------------------------------------------------------

_SPAN = 3  # tokens per span; C4 uses 3-sentence spans — same mechanism


@query(
    "t_span_dedup_rebuild",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             CAST((start - 1) // {_SPAN} AS BIGINT) AS span_idx,
             array_to_string(list_slice(toks, start, start + {_SPAN} - 1), ' ')
               AS span_text
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {_SPAN})) AS start
            FROM t WHERE len(toks) > 0)
    ), k AS (
      -- min-STRUCT keep (r14): the exact twin of the engine's
      -- min(struct(doc_id, span_idx)) + struct-equality — a
      -- ROW_NUMBER()=1 rule diverged when a duplicated doc_id put two
      -- equal (doc_id, span_idx) occurrences of one span hash in play
      SELECT doc_id, span_idx, span_text,
             (doc_id, span_idx) = min((doc_id, span_idx))
               OVER (PARTITION BY md5(span_text)) AS keep
      FROM s
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           -- rebuild order totalised to (span_idx, span_text): twin
           -- rows of a duplicated doc_id tie on span_idx (r14)
           COALESCE(STRING_AGG(span_text, ' ' ORDER BY span_idx, span_text)
                      FILTER (WHERE keep), '') AS text_kept
    FROM k GROUP BY doc_id
    """,
    category="curation",
    survey="span-dedup[abs],dedup-exact[abs]",
)
def t_span_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level span deduplication with document rebuild:
    split every document into consecutive _SPAN(=3)-token spans, keep
    each distinct span only at its FIRST corpus occurrence (ordered by
    doc_id, span_idx), and re-assemble every document from its
    surviving spans (cf. C4's "discard any three-sentence span
    occurring more than once" rule, Raffel et al. 2020 §2.2 — same
    mechanism over token spans, reference repo has no analogue).

    Scale shape: the first-occurrence decision is an aggregation over
    (span_hash, doc_id, span_idx) triples ONLY — a min-struct groupBy
    on the 16-byte hash, ~40 B/row shuffle no matter how big the
    corpus — then an equi-join back to the spans marks keepers; span
    TEXT rides a shuffle exactly once, in the per-document rebuild agg
    that any corpus-rewrite job must pay. No window over the raw
    corpus, no text through the hash exchange. Zipf-hot spans (the
    empty-ish boilerplate every crawl has) skew the hash groupBy —
    AQE skew-join splitting handles the join-back side.

    Determinism: rebuild concatenates kept spans via an order-exact
    sort_array(collect_list(struct)) rather than relying on task
    order, so the output is identical across retries/partitionings."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    t = d.select("doc_id", T.tokens("text").alias("toks")).filter(F.size("toks") > 0)
    s = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(_SPAN))).alias("start"),
        "toks",
    ).select(
        "doc_id",
        F.floor((F.col("start") - 1) / _SPAN).cast("long").alias("span_idx"),
        F.array_join(F.slice("toks", F.col("start"), F.lit(_SPAN)), " ").alias("span_text"),
    )
    s = s.withColumn("__h", F.md5("span_text"))
    firsts = s.groupBy("__h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("__first")
    )
    k = s.join(firsts, "__h").withColumn(
        "keep", F.struct("doc_id", "span_idx") == F.col("__first")
    )
    kept_structs = F.sort_array(
        F.collect_list(F.struct("span_idx", "span_text", "keep"))
    )
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(kept_structs, lambda x: x["keep"]),
                lambda x: x["span_text"],
            ),
            " ",
        ).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# Sharded inverted index (term → posting segments)
# ---------------------------------------------------------------------------

_IDX_SHARDS = 4


@query(
    "t_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TOKS}) AS term FROM documents
    ), p AS (
      SELECT term, doc_id, doc_id % {_IDX_SHARDS} AS shard, COUNT(*) AS tf
      FROM tok GROUP BY term, doc_id
    )
    SELECT term, CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           STRING_AGG(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM p GROUP BY term, shard
    """,
    category="curation",
    survey="inverted-index[abs],A3",
)
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded inverted-index build: explode tokens, count (term, doc)
    term frequency, then materialise per-(term, doc-shard) posting
    segments — doc-sorted ``doc:tf`` runs plus segment df/cf — the
    layout a distributed search/dedup index actually stores (postings
    for one term are SPLIT across doc-id shards precisely so a
    stop-word's corpus-sized posting list never has to fit one task;
    queries OR the segments back together).

    Scale shape: explode → (term, doc) partial-agg count (map-side
    combine collapses within-doc repeats before the shuffle) → one
    (term, shard) exchange whose fan-in per reducer is bounded by
    df/shards, not df. Posting text is built with an order-exact
    sorted collect, deterministic across retries. Raise _IDX_SHARDS
    with corpus size to cap segment bytes."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    p = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    p = p.withColumn("shard", (F.col("doc_id") % _IDX_SHARDS).cast("long"))
    return p.groupBy("term", "shard").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
                lambda x: F.concat_ws(
                    ":", x["doc_id"].cast("string"), x["tf"].cast("string")
                ),
            ),
            ",",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy-hitter estimates (deterministic, value-gated)
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 16


def _cms_oracle() -> str:
    from orderly_spark.queries.relational import _HEX2BIG

    bucket = _HEX2BIG("md5(CAST(j AS VARCHAR) || ':' || term)", 8)
    return f"""
    WITH tok AS (
      SELECT unnest({TOKS}) AS term FROM documents
    ), occ AS (
      SELECT term, COUNT(*) AS true_count FROM tok GROUP BY term
    ), hashed AS (
      SELECT term, true_count, j, {bucket} % {_CMS_W} AS bucket
      FROM occ CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS j)
    ), counters AS (
      SELECT j, bucket, CAST(SUM(true_count) AS BIGINT) AS c
      FROM hashed GROUP BY j, bucket
    )
    SELECT term, true_count,
           MIN(c) AS cms_estimate,
           MIN(c) - true_count AS overestimate
    FROM hashed JOIN counters USING (j, bucket)
    GROUP BY term, true_count
    """


@query(
    "a_countmin_estimates",
    oracle=_cms_oracle(),
    category="sketch",
    survey="countmin[abs],A8",
)
def a_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (_CMS_D=4 rows × _CMS_W=16 buckets) over corpus
    token frequencies, with every term's true count, CMS estimate, and
    overestimate side by side — a SKETCH under the full value oracle,
    possible because CMS is deterministic given its hash functions
    (md5-bucketed here, identical in both engines). The estimate >=
    truth guarantee is pinned by a unit test.

    Why this matters at 100 TB: the counter matrix is d×W integers and
    ADDITIVE — each partition sketches its own slice map-side, the
    shuffle moves d×W longs per partition (not the key space), and
    sketches from different days/shards merge by element-wise sum.
    Frequency estimation cost becomes independent of cardinality;
    accuracy trades off via W (overestimate ≤ ε·N with W = e/ε at the
    standard bound, Cormode & Muthukrishnan 2005). The tiny
    {_CMS_D}×{_CMS_W} grid here is chosen to FORCE collisions so the
    overestimate column actually exercises the min-over-rows logic."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    tok = d.select(F.explode(T.tokens("text")).alias("term"))
    occ = tok.groupBy("term").agg(F.count(F.lit(1)).alias("true_count"))
    hashed = occ.select(
        "term",
        "true_count",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("term"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W,
    )
    counters = hashed.groupBy("j", "bucket").agg(
        F.sum("true_count").cast("long").alias("c")
    )
    return (
        hashed.join(counters, ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "term",
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch (deterministic, mergeable, value-gated)
# ---------------------------------------------------------------------------

_HIST_BINS = 64


@query(
    "a_histogram_quantiles",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem
    ), binned AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE LEAST(CAST(FLOOR((l_extendedprice - lo) * {_HIST_BINS} / (hi - lo))
                             AS BIGINT), {_HIST_BINS - 1}) END AS bin
      FROM lineitem CROSS JOIN bounds
    ), hist AS (
      SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin
    ), cum AS (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin) AS cum_c,
             (SELECT COUNT(*) FROM lineitem) AS n
      FROM hist
    )
    SELECT q,
           MIN(lo + est_bin * (hi - lo) / {_HIST_BINS}) AS quantile_lower_bound
    FROM (
      SELECT 50 AS q, MIN(bin) AS est_bin FROM cum WHERE cum_c * 100 >= n * 50
      UNION ALL
      SELECT 90, MIN(bin) FROM cum WHERE cum_c * 100 >= n * 90
      UNION ALL
      SELECT 99, MIN(bin) FROM cum WHERE cum_c * 100 >= n * 99
    ) CROSS JOIN bounds
    GROUP BY q
    """,
    category="sketch",
    survey="hist-quantile[abs],A-cube/rollup/stats/gsets/pctl",
)
def a_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch — the third value-gated sketch (after
    count-min and HLL): 64 fixed equi-width bins over the column's
    range, cumulative counts, and each quantile reported as its bin's
    LOWER EDGE (no interpolation — the edge is lo + k·(hi-lo)/64,
    a chain of single IEEE ops both engines compute bit-identically;
    the estimate is exact to ±(hi-lo)/64).

    Why a 100 TB engine wants this next to exact percentiles: bin
    counts are ADDITIVE — partitions/days sketch independently and
    merge by vector sum (like CMS), the state is 64 longs regardless
    of data size, and a streaming job maintains it incrementally.
    Exact percentile needs a global sort or a full multiset; the
    t-digest/GK alternatives are order-dependent and could never sit
    under a cross-engine value gate. The integer comparison
    cum·100 ≥ n·q avoids float rank arithmetic entirely."""
    l = load(spark, sf_dir, "lineitem")
    bounds = l.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    # degenerate-range guard (r10 single-row sweep finding — also any
    # CONSTANT column at any scale): hi == lo puts every row in bin 0
    # instead of an ANSI DIVIDE_BY_ZERO; the quantile lower bound then
    # reports lo exactly, which IS the whole distribution
    binned = l.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("l_extendedprice") - F.col("lo")) * _HIST_BINS
                    / (F.col("hi") - F.col("lo"))
                ).cast("long"),
                F.lit(_HIST_BINS - 1),
            )
        )
        .alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum_c",
        F.sum("c").over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)),
    )
    # total row count folded into the lazy plan (broadcast one-row
    # aggregate) instead of an eager driver-side count() — saves a
    # full extra scan of the fact table per invocation
    ntot = l.agg(F.count(F.lit(1)).alias("n"))
    cum = cum.crossJoin(F.broadcast(ntot))
    # ONE conditional aggregate over the 64-bin cum relation (min ignores
    # NULLs, so min(when(cond, bin)) IS the filtered min) instead of three
    # filtered agg branches unioned — the cum subtree used to be consumed
    # 3× (review r6); stack() unpivots the single row back to (q, est_bin)
    qs = (50, 90, 99)
    one = cum.agg(
        *[
            F.min(F.when(F.col("cum_c") * 100 >= F.col("n") * q, F.col("bin"))).alias(
                f"b{q}"
            )
            for q in qs
        ]
    )
    stack_args = ", ".join(f"{q}, b{q}" for q in qs)
    ests = one.select(
        F.expr(f"stack({len(qs)}, {stack_args}) AS (q, est_bin)")
    )
    return ests.crossJoin(F.broadcast(bounds)).select(
        "q",
        (
            F.col("lo") + F.col("est_bin") * (F.col("hi") - F.col("lo")) / _HIST_BINS
        ).alias("quantile_lower_bound"),
    )


# ---------------------------------------------------------------------------
# k-fold cross-validation assignment (deterministic hash folds)
# ---------------------------------------------------------------------------

_FOLDS = 5


def _kfold_oracle() -> str:
    from orderly_spark.queries.relational import _HEX2BIG

    md5_expr = "md5('fold:' || CAST(doc_id AS VARCHAR))"
    fold = f"{_HEX2BIG(md5_expr, 8)} % {_FOLDS}"
    return f"""
    SELECT CAST({fold} AS BIGINT) AS fold, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """


@query(
    "m_kfold_assignments",
    oracle=_kfold_oracle(),
    category="metrics",
    survey="kfold[abs],F20",
)
def m_kfold_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5(seed, id) mod k — a pure function of the data like the
    train/test split (F20), so folds are reproducible across cluster
    sizes, retries, and engines, every document lands in EXACTLY one
    fold (partition by construction), and fold i's train set is simply
    ``fold <> i`` — no materialised copies of the corpus per fold.
    Output is the (fold × language) census the experimenter reads to
    confirm balance before training.

    Scale: map-side fold tagging + one (fold, lang) aggregation; the
    k training jobs each read the same corpus with a pushed-down
    ``fold <> i`` filter instead of k materialised copies."""
    # no fan_out: the per-row CPU is one md5 of a short id — a
    # round-robin repartition would shuffle every document's TEXT for
    # no parallelism the groupBy exchange doesn't already provide
    # (load()'s own fan_out criterion; review r6)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _FOLDS
    )
    return d.groupBy(fold.alias("fold"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Token-distribution drift (chi-square) between corpus generations
# ---------------------------------------------------------------------------

@query(
    "t_token_drift_chi2",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id % 5 = 0 AS is_new, unnest({TOKS}) AS term FROM documents
    ), counts AS (
      SELECT term,
             COUNT(*) FILTER (WHERE NOT is_new) AS old_c,
             COUNT(*) FILTER (WHERE is_new) AS new_c
      FROM tok GROUP BY term
    ), tots AS (
      SELECT CAST(SUM(old_c) AS BIGINT) AS old_n, CAST(SUM(new_c) AS BIGINT) AS new_n
      FROM counts
    )
    SELECT COUNT(*) AS n_terms,
           (SELECT old_n FROM tots) AS old_tokens,
           (SELECT new_n FROM tots) AS new_tokens,
           CAST(SUM(CAST(
             (new_c - old_c * CAST(new_n AS DOUBLE) / old_n)
             * (new_c - old_c * CAST(new_n AS DOUBLE) / old_n)
             / (old_c * CAST(new_n AS DOUBLE) / old_n)
             AS DECIMAL(38,6))) AS DOUBLE) AS chi2
    FROM counts CROSS JOIN tots
    WHERE old_c > 0
    """,
    category="curation",
    survey="drift[abs],A3",
)
def t_token_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between corpus generations (the data-
    drift monitor a continuously-ingesting pipeline runs before
    training on a new batch): chi-square statistic of the new batch's
    token counts against expectations scaled from the historical
    corpus. Per-term arithmetic is a chain of single IEEE ops
    (deterministic in both engines); the order-dependent float SUM is
    routed through exact decimal accumulation (the dsum discipline),
    so even a GOF statistic sits under the value oracle. Terms unseen
    in the old corpus are excluded from the statistic (e undefined) —
    n_terms counts what was tested; a production monitor reports
    out-of-vocabulary mass separately (here: new_tokens − tested).

    Scale: one (flag, term) count aggregation + a broadcast 1-row
    totals join; the statistic reduces map-side. State is the term
    frequency table the lm-quality ops already maintain."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    tok = d.select(
        (F.col("doc_id") % 5 == 0).alias("is_new"),
        F.explode(T.tokens("text")).alias("term"),
    )
    counts = tok.groupBy("term").agg(
        F.count(F.when(~F.col("is_new"), True)).alias("old_c"),
        F.count(F.when(F.col("is_new"), True)).alias("new_c"),
    )
    tots = counts.agg(
        F.sum("old_c").cast("long").alias("old_n"),
        F.sum("new_c").cast("long").alias("new_n"),
    )
    e = F.col("old_c") * F.col("new_n").cast("double") / F.col("old_n")
    term_chi = (F.col("new_c") - e) * (F.col("new_c") - e) / e
    # ONE aggregate over all terms: the old_c > 0 exclusion lives in
    # conditional aggregates instead of a pre-filter, so the totals
    # ride the same pass. Degenerate empty corpus (counts has 0 rows):
    # first() returns NULL totals here, and the oracle's scalar
    # subqueries return NULL too (SUM over an empty `counts` is NULL),
    # so the engines still agree (advice r6 — verified, not assumed).
    # `counts` appears in the DAG twice (tots
    # + stats, identical groupBy subtrees that share one exchange)
    # rather than three times with a reuse-or-recompute gamble
    # (review r6).
    tested = F.col("old_c") > 0
    return (
        counts.crossJoin(F.broadcast(tots))
        .agg(
            F.count(F.when(tested, True)).alias("n_terms"),
            F.first("old_n").alias("old_tokens"),
            F.first("new_n").alias("new_tokens"),
            F.sum(F.when(tested, term_chi).cast("decimal(38,6)"))
            .cast("double")
            .alias("chi2"),
        )
        .select("n_terms", "old_tokens", "new_tokens", "chi2")
    )
