"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship LSH dedup on sf0.001 documents.
``queries()`` — one entry per implemented operator family (SURVEY.md §2);
each callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-runnable SQL equivalents (omitted for sketch-valued
operators that are not SQL-expressible; the driver then records a rows-only
check).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL.  Float-valued aggregates are rounded on both
sides so order-of-summation noise cannot flip the driver's value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        spark.read.parquet(f"{sf_dir}/{n}.parquet").createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# relational core (Spark-native plans; Catalyst handles pushdown/pruning)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation over lineitem (scan -> filter -> hash agg)."""
    _load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
               ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
               ROUND(AVG(l_discount), 6)                                   AS avg_disc,
               COUNT(*)                                                    AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k (broadcastable dim side)."""
    _load(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey AS orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               CAST(o.o_orderdate AS DATE) AS orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, orderkey
        LIMIT 10
        """
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way snowflake join grouped by nation.

    r6 perf: ``SHUFFLE_HASH(o)`` pins the orders side as the hash-join BUILD
    side — the planner's size estimate for the orders⋈dims subtree exceeded
    lineitem's file size, so it built the hash table over the 6M-row
    lineitem side instead of the 1.5M-row orders side (2.22 s → 1.20 s at
    sf1.0).  Build-side choice cannot change join results."""
    _load(spark, sf_dir, "region", "nation", "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(o) */ n.n_name AS nation,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS line_count
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY n.n_name
        ORDER BY nation
        """
    )


_Q9_SQL = """
SELECT n.n_name AS nation, p.p_brand AS brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       ROUND(SUM(l.l_quantity), 2) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_size < 20
GROUP BY n.n_name, p.p_brand
ORDER BY nation, brand
"""


def q9_profit_by_nation_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style star join: the lineitem fact against three broadcastable
    dims (part, supplier, nation) with a pushed-down dim filter — the plan
    shape that matters at 100 TB (one fact scan, three BroadcastHashJoins,
    no fact shuffle before the aggregate)."""
    _load(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    return spark.sql(_Q9_SQL)


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-2 orders per customer by total price."""
    _load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               ROUND(o_totalprice, 2) AS totalprice, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders
        ) t
        WHERE rk <= 2
        ORDER BY custkey, rk
        """
    )


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts per event type (batch form of the
    Structured Streaming aggregation in streaming/)."""
    _load(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT CAST(FLOOR(unix_timestamp(ts) / 300) AS BIGINT) AS window_id,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY window_id, event_type
        """
    )


_SESSIONS_SQL = """
WITH t AS (
  SELECT user_id, {epoch} AS ep FROM events
),
m AS (
  SELECT user_id, ep,
         CASE WHEN LAG(ep) OVER (PARTITION BY user_id ORDER BY ep) IS NULL
                   OR ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM t
),
s AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ep
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
),
g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY user_id, sid)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events
FROM g GROUP BY user_id ORDER BY user_id
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits a session) — the
    batch form of streaming session windows; lag + running-sum windows.
    Deterministic under timestamp ties: tied rows always share a session."""
    _load(spark, sf_dir, "events")
    return spark.sql(_SESSIONS_SQL.format(epoch="unix_timestamp(ts)"))


_QUALITY_FILTER_TMPL = """
WITH f AS (
  SELECT doc_id,
         {length}(text) AS n_chars,
         {length}({strip_nonword}) AS n_word_chars,
         {length}(REPLACE(text, ' ', '')) AS n_nonspace,
         {ntokens} AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CASE WHEN n_chars < 100 THEN 'too_short'
            WHEN 10 * (n_chars - n_word_chars) > 3 * n_chars THEN 'too_punct'
            WHEN n_nonspace > 12 * n_tokens THEN 'long_tokens'
            ELSE 'keep' END AS verdict
FROM f ORDER BY doc_id
"""


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality gate (training-data filtering op): length floor,
    punctuation-ratio cap, average-token-length cap — thresholds evaluated
    in exact integer arithmetic so both dialects branch identically."""
    _load(spark, sf_dir, "documents")
    # r6 perf: sorted-input form of _QUALITY_FILTER_TMPL (see
    # text_token_stats) — same expressions/aliases/branching, no trailing
    # ORDER BY re-executing the regex projection under the range sampler
    f = _ranged(spark.table("documents")).selectExpr(
        "doc_id",
        "LENGTH(text) AS n_chars",
        "LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9_ ]', '')) AS n_word_chars",
        "LENGTH(REPLACE(text, ' ', '')) AS n_nonspace",
        "SIZE(SPLIT(text, ' ')) AS n_tokens",
    )
    return f.selectExpr(
        "doc_id",
        "CAST(n_chars AS BIGINT) AS n_chars",
        "CASE WHEN n_chars < 100 THEN 'too_short'"
        " WHEN 10 * (n_chars - n_word_chars) > 3 * n_chars THEN 'too_punct'"
        " WHEN n_nonspace > 12 * n_tokens THEN 'long_tokens'"
        " ELSE 'keep' END AS verdict",
    )


def q_events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping + having + top-k over the event stream table."""
    _load(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= 5
        ORDER BY n_events DESC, user_id
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# dedup / text-analysis family (documents table)
# ---------------------------------------------------------------------------

_NGRAM_DUCK = """
WITH grams AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
             RANGE(1, GREATEST(LEN(text) - 7, 1) + 1),
             i -> SUBSTR(text, i::INT, 8)))) AS g
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, COUNT(*) AS i
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_l, id_r,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j_exact
FROM inter
JOIN sizes sa ON id_l = sa.doc_id
JOIN sizes sb ON id_r = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
ORDER BY id_l, id_r
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-8-gram Jaccard pairs (J >= 0.5) via the SCALE-PATH
    operator (round 3): bucket-capped candidate generation over gram buckets
    + pair-bounded intersection counting (operators/exact_pairs.py) — never
    the df^2 gram self-join.  ``on_capped='fail'`` asserts no bucket was
    capped, so the output provably equals the brute-force all-pairs answer
    the DuckDB oracle computes (IEEE division of exact integer counts)."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.exact_pairs import ngram_jaccard_pairs

    _load(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(
        spark.table("documents"), threshold=0.5, gram_len=8, on_capped="fail"
    )
    return _barrier_sort(out, "id_l", "id_r")


_TOKEN_RE = r"[0-9A-Za-z_\x{0080}-\x{10ffff}]+"

_WJ_DUCK = """
WITH toks AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id,
               UNNEST(regexp_extract_all(text, '{re}')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
),
tot AS (SELECT doc_id, SUM(c) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_l, b.doc_id AS id_r, SUM(LEAST(a.c, b.c)) AS smin
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_l, id_r,
       ROUND(CAST(smin AS DOUBLE) / (ta.n + tb.n - smin), 6) AS j_weighted
FROM inter
JOIN tot ta ON id_l = ta.doc_id
JOIN tot tb ON id_r = tb.doc_id
WHERE CAST(smin AS DOUBLE) / (ta.n + tb.n - smin) >= 0.8
ORDER BY id_l, id_r
""".replace("{re}", _TOKEN_RE)


def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED (multiset) token Jaccard pairs (J_w >= 0.8) via the
    SCALE-PATH operator (round 3): bucket-capped candidates over token
    buckets + pair-bounded sum-min intersection (operators/exact_pairs.py).
    ``on_capped='fail'`` guards oracle equality with the brute-force DuckDB
    replay."""
    from probminhash_spark.operators.exact_pairs import weighted_token_jaccard_pairs

    _load(spark, sf_dir, "documents")
    out = weighted_token_jaccard_pairs(
        spark.table("documents"),
        threshold=0.8,
        token_re=_TOKEN_RE,  # bound as a literal, no SQL-string escaping
        on_capped="fail",
    )
    return _barrier_sort(out, "id_l", "id_r")


def dedup_minhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline regime end-to-end WITH an oracle: weighted
    ProbMinHash3a signatures over token multisets -> LSH banding -> weighted
    exact verification at J_w >= 0.8.  Oracle = the brute-force weighted SQL:
    the corpus J_w distribution is bimodal (dups >= 0.917, background shelf
    <= 0.744, measured), banding recall at 0.917 is 1-(1-0.917^4)^32
    ~ 1-8e-18, and on_capped='fail' guards star-capping."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.dedup import dedup_edges

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").selectExpr("doc_id", "text AS content")
    cfg = DedupConfig(
        shingle_mode="token",
        shingle_size=1,
        algo="probminhash3a",
        weighted=True,
        num_hashes=128,
        bands=32,
        rows=4,
        threshold=0.8,
        est_low_cut=0.6,
    )
    edges = dedup_edges(docs, cfg, key_cols=None, id_col="doc_id", on_capped="fail")
    import pyspark.sql.functions as F

    return _barrier_sort(
        edges.select("id_l", "id_r", F.round("j_exact", 6).alias("j_weighted")),
        "id_l",
        "id_r",
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash (hash-groupBy dedup)."""
    _load(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT MD5(text) AS content_md5, COUNT(*) AS n_copies,
               MIN(doc_id) AS first_doc_id
        FROM documents
        GROUP BY MD5(text)
        HAVING COUNT(*) > 1
        ORDER BY content_md5
        """
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LSH pipeline (sketch -> band -> candidates -> exact verify) on
    documents.  Oracle = the same brute-force SQL as dedup_ngram_jaccard.

    Oracle-equivalence assumptions (asserted / documented):
    - no band bucket exceeds bucket_cap (``on_capped="fail"`` raises instead
      of silently star-capping, which would drop non-anchor pairs the
      brute-force oracle keeps);
    - corpus J-gap: the testdata's near-dup pairs sit at J>=0.9 where 32x4
      banding recall is 1-(1-J^4)^32 ~ 1-1e-15; marginal pairs at J~0.5 have
      only ~0.87 hit probability and would break exact hash-match, but the
      corpus has none (verified: brute-force pair J distribution is bimodal).
    Exact verification removes all false positives, so outputs coincide."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.dedup import dedup_edges

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").selectExpr("doc_id", "text AS content")
    cfg = DedupConfig(
        shingle_mode="char",
        shingle_size=8,
        algo="optdens",
        num_hashes=128,
        bands=32,
        rows=4,
        threshold=0.5,
        est_low_cut=0.3,
    )
    edges = dedup_edges(docs, cfg, key_cols=None, id_col="doc_id", on_capped="fail")
    return _barrier_sort(edges.selectExpr("id_l", "id_r", "j_exact"), "id_l", "id_r")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over exact n-gram-Jaccard edges;
    every doc labeled with min reachable doc_id.  Oracle: recursive-CTE
    transitive closure in DuckDB."""
    from probminhash_spark.operators.components import assign_clusters

    _load(spark, sf_dir, "documents")
    edges = dedup_ngram_jaccard(spark, sf_dir).select("id_l", "id_r")
    docs = spark.table("documents").selectExpr("doc_id")
    out = assign_clusters(docs, edges)
    return out.selectExpr("doc_id", "cluster_id").orderBy("doc_id")


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (suffix-array-substring semantics, Spark-first):
    all pairs sharing a substring of length >= 20, via winnowing-fingerprint
    anchors (recall 1 by the w + k - 1 guarantee) + native char-20-gram
    intersection verify.  Oracle = brute-force shared-20-gram join in DuckDB;
    on_capped='fail' asserts no fingerprint bucket was star-capped."""
    from probminhash_spark.operators.substring import substring_dup_pairs

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").selectExpr("doc_id", "text AS content")
    out = substring_dup_pairs(docs, min_len=20, k=8, on_capped="fail")
    return _barrier_sort(out, "id_l", "id_r")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (Manku et al. block join +
    native bit_count verify).  Oracle: brute-force bit_count filter over
    DuckDB-replayed fingerprints (_dedup_simhash_duck_sql) — the block join
    is recall-complete for d <= max_hamming by pigeonhole, so outputs
    coincide; planted-pair recall additionally asserted in pytest."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.dedup import simhash_dup_pairs

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").selectExpr("doc_id", "text AS content")
    cfg = DedupConfig(shingle_mode="token", shingle_size=1)
    out = simhash_dup_pairs(docs, cfg, max_hamming=3, on_capped="fail")
    return _barrier_sort(out, "id_l", "id_r")


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-user dedup output: the surviving corpus (one representative
    per duplicate cluster, min doc_id).  Oracle: recursive-CTE closure ->
    keep rows whose min reachable id is themselves."""
    from probminhash_spark.operators.dedup import keep_representatives

    _load(spark, sf_dir, "documents")
    edges = dedup_ngram_jaccard(spark, sf_dir).select("id_l", "id_r")
    docs = spark.table("documents").selectExpr("doc_id")
    return keep_representatives(docs, edges).selectExpr("doc_id").orderBy("doc_id")


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline end-to-end: LSH edges (sketch -> band -> verify) feed
    connected components (``operators/components.py``).  Oracle = the same
    recursive-CTE closure as dedup_clusters: the LSH edge set coincides with
    the brute-force edge set on this corpus (see dedup_minhash_lsh's
    oracle-equivalence assumptions, asserted via on_capped='fail')."""
    from probminhash_spark.operators.components import assign_clusters

    _load(spark, sf_dir, "documents")
    edges = dedup_minhash_lsh(spark, sf_dir).select("id_l", "id_r")
    docs = spark.table("documents").selectExpr("doc_id")
    out = assign_clusters(docs, edges)
    return out.selectExpr("doc_id", "cluster_id").orderBy("doc_id")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / quality stats per document (training-data op).

    r6 perf: computed over a range-partitioned doc_id-sorted scan instead of
    a trailing ORDER BY — same rows in the same global order, but the string
    work runs ONCE (the range sampler otherwise re-executes the projection)
    and in parallel (the single-row-group documents scan is 1 task)."""
    _load(spark, sf_dir, "documents")
    return _ranged(spark.table("documents")).selectExpr(
        "doc_id",
        "CAST(SIZE(SPLIT(text, ' ')) AS BIGINT) AS n_tokens",
        "CAST(SIZE(ARRAY_DISTINCT(SPLIT(text, ' '))) AS BIGINT) AS n_distinct_tokens",
        "CAST(LENGTH(text) AS BIGINT) AS n_chars_actual",
        "ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)"
        " / SIZE(SPLIT(text, ' ')), 6) AS avg_token_len",
    )


def text_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (word pieces + standalone punctuation),
    the pre-tokenizer convention of GPT-style BPE vocabularies — native
    regexp_extract_all on both sides (explicit char classes so the Java and
    RE2 regex dialects agree)."""
    _load(spark, sf_dir, "documents")
    # r6 perf: sorted-input form (see text_token_stats) — regex extraction
    # runs once, in parallel, instead of twice under the range sampler
    return _ranged(spark.table("documents")).selectExpr(
        "doc_id",
        "CAST(SIZE(regexp_extract_all(text,"
        " '[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]', 0)) AS BIGINT) AS n_bpe_tokens",
        "CAST(SIZE(regexp_extract_all(text, '[A-Za-z0-9_]+', 0)) AS BIGINT)"
        " AS n_word_tokens",
        "CAST(SIZE(regexp_extract_all(text,"
        " '[^A-Za-z0-9_ \\t\\n]', 0)) AS BIGINT) AS n_punct_tokens",
    )


def text_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality profile by (lang, source)."""
    _load(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT lang, source, COUNT(*) AS n_docs,
               ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               ROUND(AVG(CAST(SIZE(SPLIT(text, ' ')) AS DOUBLE)), 4) AS avg_tokens
        FROM documents
        GROUP BY lang, source
        ORDER BY lang, source
        """
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COSINE_SPARK = """
WITH v AS (
  SELECT vec_id, TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
norms AS (
  SELECT vec_id, e,
         SQRT(AGGREGATE(e, CAST(0 AS DOUBLE), (a, x) -> a + x * x)) AS nrm
  FROM v
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         AGGREGATE(ZIP_WITH(q.e, c.e, (x, y) -> x * y),
                   CAST(0 AS DOUBLE), (a, x) -> a + x) / (q.nrm * c.nrm) AS cos
  -- r6 perf: the probe (streamed) side of the BroadcastNestedLoopJoin is
  -- repartitioned — the single-row-group embeddings scan would otherwise run
  -- the whole per-pair dot-product loop in ONE task (1.72s -> 0.79s at sf1.0).
  -- Per-row math is unchanged, so rounded cosines are identical.
  FROM norms q JOIN (SELECT /*+ REPARTITION({npart}) */ * FROM norms) c
    ON q.vec_id < 8 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rk
  FROM pairs
) t
WHERE rk <= 5
ORDER BY query_id, rk
"""

_COSINE_DUCK = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
norms AS (
  SELECT vec_id, e,
         SQRT(LIST_AGGREGATE(LIST_TRANSFORM(e, x -> x * x), 'sum')) AS nrm
  FROM v
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
             i -> q.e[i::INT] * c.e[i::INT]), 'sum') / (q.nrm * c.nrm) AS cos
  FROM norms q JOIN norms c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rk
  FROM pairs
) t
WHERE rk <= 5
ORDER BY query_id, rk
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 8) —
    the exact baseline for approximate similarity search; all-native
    zip_with/aggregate, no UDF."""
    _load(spark, sf_dir, "embeddings")
    npart = spark.sparkContext.defaultParallelism * 2
    return spark.sql(_COSINE_SPARK.format(npart=npart))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= 0.99 across the corpus."""
    _load(spark, sf_dir, "embeddings")
    # r6 perf: repartition the streamed side of the all-pairs BNLJ — the
    # single-row-group embeddings scan would otherwise run every dot product
    # in one task (see ann_cosine_topk).  Per-row math unchanged.
    npart = spark.sparkContext.defaultParallelism * 2
    return spark.sql(
        """
        WITH v AS (
          SELECT vec_id, TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        ),
        norms AS (
          SELECT vec_id, e,
                 SQRT(AGGREGATE(e, CAST(0 AS DOUBLE), (a, x) -> a + x * x)) AS nrm
          FROM v
        )
        SELECT a.vec_id AS id_l, b.vec_id AS id_r,
               ROUND(AGGREGATE(ZIP_WITH(a.e, b.e, (x, y) -> x * y),
                     CAST(0 AS DOUBLE), (acc, x) -> acc + x) / (a.nrm * b.nrm), 6)
                   AS cosine
        FROM (SELECT /*+ REPARTITION({npart}) */ * FROM norms) a
        JOIN norms b ON a.vec_id < b.vec_id
        WHERE AGGREGATE(ZIP_WITH(a.e, b.e, (x, y) -> x * y),
              CAST(0 AS DOUBLE), (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.99
        ORDER BY id_l, id_r
        """.format(npart=npart)
    )


# ---------------------------------------------------------------------------
# sketch-valued operators (not SQL-expressible -> rows-only driver check)
# ---------------------------------------------------------------------------


def _barrier_sort(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin repartition — a materialized stage boundary under AQE —
    immediately before the final ``orderBy`` (r6 perf).

    The orderBy's range sampler re-executes everything after the last
    shuffle; for the dedup/verify queries that segment holds the estimate
    joins, the content joins and the exact-verify pandas UDF.  The
    repartition (tiny: the edge sets are small) makes the sampler read the
    materialized shuffle instead, so the verify subtree runs exactly once.
    Rows and final ordering are unchanged."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism).orderBy(*cols)


def _ranged(df: DataFrame, col: str = "doc_id") -> DataFrame:
    """Range-partition + sort the UDF *input* by ``col`` so the query's
    output is globally ordered WITHOUT a trailing ``orderBy`` (r6 perf).

    A post-UDF ``orderBy`` plans a range Exchange whose boundary sampler
    re-executes everything after the last shuffle — i.e. the whole pandas
    UDF subtree runs TWICE (measured 2.35s vs 1.15s per sketch query at
    sf1.0).  Sorting the input instead puts the sampler on the cheap
    parquet scan; the UDF is a 1:1 order-preserving projection, so rows
    leave in exactly the same global ``col`` order a trailing orderBy
    would produce.  The range repartition doubles as the parallelism
    fan-out (replaces the ``_par`` round-robin repartition — one shuffle,
    not two)."""
    sc = df.sparkSession.sparkContext
    return df.repartitionByRange(sc.defaultParallelism, col).sortWithinPartitions(col)


def _scalarize_sig(df: DataFrame, col: str) -> DataFrame:
    """Encode an array<long> column as driver-hashable scalars.

    The driver's row canonicalizer (pandas sort_values/factorize) cannot hash
    list cells, so sketch-valued outputs are emitted as (length, '-'-joined
    string) — lossless, deterministic, and order-preserving."""
    import pyspark.sql.functions as F

    return df.select(
        *[c for c in df.columns if c != col],
        F.size(col).cast("bigint").alias(f"{col}_len"),
        F.concat_ws("-", F.col(col).cast("array<string>")).alias(f"{col}_str"),
    )


def _per_doc(
    spark: SparkSession, sf_dir: str, udf, col: str, encode=None
) -> DataFrame:
    """The one shape of every per-document query: load ``documents`` ->
    ``_ranged`` (output globally ordered by doc_id, no trailing orderBy) ->
    ``doc_id`` plus ``udf(text) AS col`` -> ``encode(df, col)``, which turns
    the UDF column into driver-hashable scalars."""
    import pyspark.sql.functions as F

    _load(spark, sf_dir, "documents")
    out = _ranged(spark.table("documents")).select(
        "doc_id", udf(F.col("text")).alias(col)
    )
    return encode(out, col) if encode else out


# ``make_sketch_udf`` signature queries — 64 slots in 16 bands x 4 rows,
# rows-only (sketch-valued): query name -> DedupConfig overrides
_SIGNATURE_QUERIES = {
    # ProbMinHash3a weighted signatures (S4/S6)
    "sketch_signatures": dict(algo="probminhash3a", weighted=True),
    # ProbMinHash3aSha (S6, ``probminhash3sha.rs:87-167``): sha512_256-
    # digested item identity, the reference's stable-across-languages
    # string-key regime
    "sketch_signatures_sha": dict(algo="probminhash3a", weighted=True, hasher="sha"),
    # SuperMinHash (S10)
    "sketch_superminhash": dict(algo="superminhash"),
    # SuperMinHash2 integer signatures (S13, ``superminhasher2.rs:203-279``)
    "sketch_superminhash2": dict(algo="superminhash2"),
    # ProbMinHash2 weighted signatures (S7/S8, ``probminhash2.rs``)
    "sketch_probminhash2": dict(algo="probminhash2", weighted=True),
    # reverse-optimal densification (S26, ``densminhash.rs:390-474``)
    "sketch_revoptdens": dict(algo="revoptdens"),
}


def _signature_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """The ``_SIGNATURE_QUERIES`` row ``name`` as a driver query."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from probminhash_spark.config import DedupConfig
        from probminhash_spark.functions.sketch_udfs import make_sketch_udf

        overrides = _SIGNATURE_QUERIES[name]
        cfg = DedupConfig(num_hashes=64, bands=16, rows=4, **overrides)
        return _per_doc(spark, sf_dir, make_sketch_udf(cfg), "sig", _scalarize_sig)

    query.__name__ = query.__qualname__ = name
    return query


def _format_hsketch(df: DataFrame, col: str) -> DataFrame:
    """Scalar-encode an array<double> hsketch for the driver hash: fixed
    6-decimal rendering (values are sums of uniforms in [0, m) — 1e-6 is far
    below slot separation)."""
    import pyspark.sql.functions as F

    return df.select(
        "doc_id",
        F.size(col).cast("bigint").alias(f"{col}_len"),
        F.concat_ws(
            "-", F.expr(f"transform({col}, x -> format_number(x, '0.000000'))")
        ).alias(f"{col}_str"),
    )


def sketch_superminhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SuperMinHash float hsketch values (S12, ``superminhasher.rs:163-166``)
    — the reference's ``Vec<F>`` sketch surface (values in [0, m)), exposed
    as array<double> alongside the winner-hash banding signature; j_est
    between two docs = native zip_with equal-slot fraction on these floats.
    Rows-only (sketch-valued)."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.functions.sketch_udfs import make_superminhash_values_udf

    cfg = DedupConfig(algo="superminhash", num_hashes=64, bands=16, rows=4)
    hsk = make_superminhash_values_udf(cfg)
    return _per_doc(spark, sf_dir, hsk, "hsketch", _format_hsketch)


def sketch_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetSketch distinct-shingle cardinality estimates (S16/S18)."""
    import pyspark.sql.functions as F

    from probminhash_spark.config import DedupConfig
    from probminhash_spark.functions.sketch_udfs import make_cardinality_udf

    card = make_cardinality_udf(DedupConfig())
    return _per_doc(
        spark, sf_dir, card, "est_distinct_shingles",
        lambda df, col: df.withColumn(col, F.round(col, 2)),
    )


def sketch_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (near-dup fingerprint family).  Oracle:
    full DuckDB replay of the fingerprint math (_simhash_duck_sql) — poly
    byte hash, double SplitMix64 finalize, sign-packed bit votes — in
    HUGEINT-emulated wrapping u64 arithmetic."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.functions.sketch_udfs import make_simhash_udf

    sim = make_simhash_udf(DedupConfig(shingle_mode="token", shingle_size=1))
    return _per_doc(spark, sf_dir, sim, "simhash64")


def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (bucketed candidates +
    exact re-rank).  At cos >= ~0.9 neighborhoods the bucket recall is ~1, so
    the output matches the brute-force oracle on this corpus."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.similarity import cosine_topk_lsh

    _load(spark, sf_dir, "embeddings")
    vectors = spark.table("embeddings")
    queries_df = vectors.where(F.col("vec_id") < 8)
    out = cosine_topk_lsh(
        vectors, queries_df, k=5, dim=64, n_bits=120, band_bits=6
    )
    import pyspark.sql.functions as F2

    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F2.col("rk").cast("bigint").alias("rk"),
    ).orderBy("query_id", "rk")


def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF coarse quantizer (sample-trained
    spherical k-means cells + n_probe exact re-rank) — rows-only by design
    (approximate operator; recall vs brute force asserted in pytest)."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.similarity import cosine_topk_ivf

    _load(spark, sf_dir, "embeddings")
    vectors = spark.table("embeddings")
    queries_df = vectors.where(F.col("vec_id") < 8)
    out = cosine_topk_ivf(vectors, queries_df, k=5, n_centroids=32, n_probe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rk").cast("bigint").alias("rk"),
    ).orderBy("query_id", "rk")


# ANN recall, driver-visible (r5, r4 verdict task #5).  The testdata
# embeddings are ISOTROPIC noise (measured: every vec_id<8 top-5 neighbor
# sits at cosine ~0.26-0.49, and the corpus plants zero cos>=0.99 pairs —
# see dedup_embedding_* returning 0 rows), so "recall of the top-5 of
# noise" is not achievable sublinearly by ANY method and is not the regime
# this engine targets.  The meaningful quality contract — matching the
# pytest recall suites on clustered corpora — is PLANTED NEAR-DUPLICATE
# retrieval: queries are deterministic elementwise perturbations of the
# first 8 corpus vectors (cos(base, query) ~0.997 vs noise <0.5), and the
# check is that the approximate top-1 equals the brute-force top-1 (the
# base).  Both sides are deterministic (seeded hyperplanes / seeded sample
# k-means, (cosine, id) tie-break), and the DuckDB oracle replays the
# SAME perturbation + brute force, so the hash match asserts every query
# retrieved its planted near-duplicate.

# elementwise factor in [0.9, 1.1]: Spark lambda index i is 0-based
_ANN_PERTURB_SPARK = (
    "transform(embedding, (x, i) ->"
    " cast(x * (1.0d + 0.05d * (cast(i % 5 as double) - 2.0d)) as float))"
)


def _ann_planted_queries(vectors: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return vectors.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_ANN_PERTURB_SPARK).alias("embedding"),
    )


def _ann_recall_summary(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """One row (n_queries, k, n_recall_ok): queries whose approx top-1
    equals the brute-force top-1."""
    import pyspark.sql.functions as F

    hits = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
        .na.fill({"n_hit": 0})
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.lit(1).cast("bigint").alias("k"),
            F.sum((F.col("n_hit") >= 1).cast("int"))
            .cast("bigint")
            .alias("n_recall_ok"),
        )
    )


_ANN_RECALL_DUCK = """
WITH v AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
q AS (
  SELECT vec_id + 1000000 AS query_id,
         LIST_TRANSFORM(RANGE(1, 65),
             i -> ((embedding[i::INT]::DOUBLE)
                   * (1.0 + 0.05 * (((i - 1) % 5)::DOUBLE - 2.0)))::FLOAT::DOUBLE
         ) AS e
  FROM embeddings WHERE vec_id < 8
),
norms_v AS (
  SELECT vec_id, e,
         SQRT(LIST_AGGREGATE(LIST_TRANSFORM(e, x -> x * x), 'sum')) AS nrm
  FROM v
),
norms_q AS (
  SELECT query_id, e,
         SQRT(LIST_AGGREGATE(LIST_TRANSFORM(e, x -> x * x), 'sum')) AS nrm
  FROM q
),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
             i -> q.e[i::INT] * c.e[i::INT]), 'sum') / (q.nrm * c.nrm) AS cos
  FROM norms_q q JOIN norms_v c ON c.vec_id <> q.query_id
),
top1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rk
    FROM pairs
  ) t WHERE rk = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(1 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_recall_ok
FROM top1
"""


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH retrieval of planted near-duplicates: perturbed copies
    of the first 8 vectors must find their base as top-1, matching the
    in-plan brute-force top-1 (see the _ANN_PERTURB_SPARK block comment for
    why top-k-of-noise recall is not the right contract on this corpus).
    The DuckDB oracle replays the perturbation + brute force and asserts
    all 8 queries succeed."""
    from probminhash_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    _load(spark, sf_dir, "embeddings")
    vectors = spark.table("embeddings")
    queries_df = _ann_planted_queries(vectors)
    exact = cosine_topk_bruteforce(vectors, queries_df, k=1)
    approx = cosine_topk_lsh(
        vectors, queries_df, k=1, dim=64, n_bits=120, band_bits=6
    )
    return _ann_recall_summary(exact, approx)


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (sample-trained spherical k-means, n_probe cells) retrieval of
    planted near-duplicates — same top-1 contract and oracle as
    ann_lsh_recall; deterministic via the seeded xxhash64-ordered training
    sample and fixed iteration count."""
    from probminhash_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    _load(spark, sf_dir, "embeddings")
    vectors = spark.table("embeddings")
    queries_df = _ann_planted_queries(vectors)
    exact = cosine_topk_bruteforce(vectors, queries_df, k=1)
    approx = cosine_topk_ivf(
        vectors, queries_df, k=1, n_centroids=32, n_probe=8
    )
    return _ann_recall_summary(exact, approx)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.99) via hyperplane-LSH blocking
    + exact verification; coincides with the brute-force SQL oracle because
    at theta ~ 8 deg per-band recall makes misses ~1e-8."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.similarity import embedding_neardup_pairs

    _load(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(
        spark.table("embeddings"), threshold=0.99, dim=64, n_bits=120, band_bits=6
    )
    return out.select(
        "id_l", "id_r", F.round("cosine", 6).alias("cosine")
    ).orderBy("id_l", "id_r")


def sketch_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.).  Oracle:
    bit-exact DuckDB replay (_fingerprint_duck_sql) — byte-level k-gram poly
    hashes, SplitMix64 finalize, windowed minima, distinct + unsigned-sorted
    per doc."""
    from probminhash_spark.functions.sketch_udfs import make_fingerprint_udf

    fp = make_fingerprint_udf(window=16, k=8)
    return _per_doc(spark, sf_dir, fp, "fingerprint", _scalarize_sig)


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language identification — rows-only."""
    from probminhash_spark.functions.sketch_udfs import make_lang_id_udf

    return _per_doc(spark, sf_dir, make_lang_id_udf(), "lang_pred")


def sketch_ordminhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive edit-distance signatures (ProbOrdMinHash2 S27/S28)
    over token sequences — rows-only (not SQL-expressible)."""
    from probminhash_spark.functions.sketch_udfs import make_ordminhash_udf

    om = make_ordminhash_udf(m=16, l=2)
    return _per_doc(spark, sf_dir, om, "ord_sig", _scalarize_sig)


def sketch_group_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetSketch merge payoff (S19): per-source union sketches -> distinct
    shingle estimates — rows-only (sketch-valued)."""
    import pyspark.sql.functions as F

    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.sketch_ops import group_distinct_shingles

    _load(spark, sf_dir, "documents")
    cfg = DedupConfig(setsketch_m=256)
    docs = spark.table("documents").selectExpr("source", "text AS content")
    out = group_distinct_shingles(docs, ["source"], cfg)
    return _barrier_sort(
        out.select(
            "source",
            "n_docs",
            F.round("est_distinct_shingles", 2).alias("est_distinct_shingles"),
        ),
        "source",
    )


def sketch_group_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard between per-source union SetSketches with all three
    estimators: register equality, golden-section joint MLE (S21), and the
    b->1 closed form (S22) — rows-only (sketch-derived)."""
    import pyspark.sql.functions as F

    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.sketch_ops import (
        group_distinct_shingles,
        group_jaccard,
    )

    _load(spark, sf_dir, "documents")
    cfg = DedupConfig(setsketch_m=256)
    docs = spark.table("documents").selectExpr("source", "text AS content")
    groups = group_distinct_shingles(docs, ["source"], cfg)
    out = group_jaccard(groups, cfg, "source")
    return _barrier_sort(
        out.select(
            "key_l",
            "key_r",
            F.round("j_est", 6).alias("j_est"),
            F.round("j_mle", 6).alias("j_mle"),
            F.round("j_mle_b1", 6).alias("j_mle_b1"),
        ),
        "key_l",
        "key_r",
    )


def sketch_group_jaccard_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-groups scale path for group Jaccard (r4): candidates from LSH
    banding OVER THE UNION REGISTERS (register-equality IS j_est, so
    register runs band exactly like minhash slots), then the same
    three-estimator pass, filtered at the threshold.  Groups here are
    random corpus partitions (pmod(doc_id, 8)), which share vocabulary and
    so land above the threshold — exercising band collision + estimator
    agreement end-to-end.  Rows-only (register-valued intermediates are not
    SQL-expressible); banded ≡ broadcast equality is pytest-enforced at
    1000 groups (tests/test_sketch_ops.py)."""
    import pyspark.sql.functions as F

    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.sketch_ops import (
        group_distinct_shingles,
        group_jaccard,
    )

    _load(spark, sf_dir, "documents")
    cfg = DedupConfig(setsketch_m=256)
    docs = spark.table("documents").selectExpr(
        "cast(pmod(doc_id, 8) as string) AS grp", "text AS content"
    )
    groups = group_distinct_shingles(docs, ["grp"], cfg)
    # on_capped='fail': repo convention — recorded queries never silently
    # star-cap (a capped register bucket would drop pairs and diverge from
    # the broadcast-equivalent answer this docstring promises)
    out = group_jaccard(
        groups, cfg, "grp", threshold=0.2, mode="banded", band_rows=4,
        on_capped="fail",
    )
    return _barrier_sort(
        out.select(
            "key_l",
            "key_r",
            F.round("j_est", 6).alias("j_est"),
            F.round("j_mle", 6).alias("j_mle"),
            F.round("j_mle_b1", 6).alias("j_mle_b1"),
        ),
        "key_l",
        "key_r",
    )


def sketch_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup of union sketches (S19 mergeability, second level):
    per-(lang, source) union sketches merge UP to per-lang unions without
    re-reading the documents — bit-identical to direct aggregation (merge is
    associative+commutative; pytest-enforced).  Rows-only (sketch-valued)."""
    import pyspark.sql.functions as F

    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.sketch_ops import (
        group_distinct_shingles,
        rollup_group_sketches,
    )

    _load(spark, sf_dir, "documents")
    cfg = DedupConfig(setsketch_m=256)
    docs = spark.table("documents").selectExpr("lang", "source", "text AS content")
    children = group_distinct_shingles(docs, ["lang", "source"], cfg)
    out = rollup_group_sketches(children, ["lang"], cfg)
    return _barrier_sort(
        out.select(
            "lang",
            "n_docs",
            "n_child_groups",
            F.round("est_distinct_shingles", 2).alias("est_distinct_shingles"),
        ),
        "lang",
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over the documents table: text payloads become
    opaque binary columns with typed metadata, features extracted via
    iterator mapInPandas (vectorized fake decode — real codecs are the
    documented stub seam).

    Oracle-able (graduated in r4): the fake-decode features are float32 of
    integer-exact chunk means (sum/size, one float64 division, float32 RN
    cast — no accumulation), so ``floor(float64(f32_value) * 8192)`` is a
    bit-deterministic fixed-point encoding both engines compute identically
    (the *8192 widening of a float32-representable value by a power of two
    is exact; floor of an exact binary value has no rounding boundary).
    Payloads are framed with a 'D:' prefix so document text can never sniff
    as BMP/RIFF media and trip a real decoder the oracle can't replay."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.multimodal import extract_features

    _load(spark, sf_dir, "documents")
    # input pre-sorted by doc_id (_ranged) + order-preserving 1:1 mapInPandas
    # == the old trailing orderBy, without the range sampler re-executing the
    # whole decode subtree (r6 perf; see _ranged)
    media = _ranged(spark.table("documents")).select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.encode(
            F.concat(F.lit("D:"), F.coalesce(F.col("text"), F.lit(""))), "utf-8"
        ).alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    out = extract_features(media, n_features=8)
    out = out.select(
        "doc_id",
        "modality",
        "n_bytes",
        F.concat_ws(
            "-",
            F.expr(
                "transform(features, x -> cast(cast(floor(cast(x as double)"
                " * 8192.0D) as bigint) as string))"
            ),
        ).alias("features_q13"),
    )
    return out


def _multimodal_features_duck_sql(n_chunks: int = 8) -> str:
    """DuckDB replay of the fake-decode feature path: per-chunk byte sums
    and sizes (np.array_split sizing), chunk mean -> float32 (CAST AS REAL,
    same IEEE round-to-nearest as numpy's astype) -> exact *8192 fixed-point
    floor.  Empty chunks score 0 like the UDF's np.where(sizes > 0, ...)."""
    return f"""
        WITH raw AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
                 hex(encode('D:' || COALESCE(text, ''))) AS hx,
                 octet_length(encode('D:' || COALESCE(text, ''))) AS nb
          FROM documents
        ),
        bytes AS (
          SELECT doc_id, modality, nb,
            list_transform(range(CAST(nb AS BIGINT)), j ->
              CAST(16 * (strpos('0123456789ABCDEF',
                                substr(hx, 2*CAST(j AS INT)+1, 1)) - 1)
                   + (strpos('0123456789ABCDEF',
                             substr(hx, 2*CAST(j AS INT)+2, 1)) - 1)
               AS BIGINT)) AS bv
          FROM raw
        ),
        feats AS (
          SELECT doc_id, modality, nb,
            list_transform(range({n_chunks}), j ->
              CASE WHEN ((j + 1) * (nb // {n_chunks}) + LEAST(j + 1, nb % {n_chunks}))
                        > (j * (nb // {n_chunks}) + LEAST(j, nb % {n_chunks}))
                THEN CAST(FLOOR(CAST(
                       CAST(COALESCE(list_aggregate(list_slice(bv,
                         CAST(j * (nb // {n_chunks}) + LEAST(j, nb % {n_chunks}) AS INT) + 1,
                         CAST((j + 1) * (nb // {n_chunks}) + LEAST(j + 1, nb % {n_chunks}) AS INT)),
                         'sum'), 0) AS DOUBLE)
                       / CAST(((j + 1) * (nb // {n_chunks}) + LEAST(j + 1, nb % {n_chunks}))
                              - (j * (nb // {n_chunks}) + LEAST(j, nb % {n_chunks})) AS DOUBLE)
                     AS REAL) * 8192.0) AS BIGINT)
                ELSE 0 END) AS fq
          FROM bytes
        )
        SELECT doc_id, modality, CAST(nb AS BIGINT) AS n_bytes,
               array_to_string(fq, '-') AS features_q13
        FROM feats ORDER BY doc_id
    """


def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer byte stats over opaque binary payloads (iterator
    mapInPandas, same zero-copy Arrow binary plumbing as multimodal feature
    extraction).  Oracle: DuckDB replay of the chunked byte sums over
    hex(encode(text)) — integers end-to-end, so the binary mapInPandas path
    is hash-verified bit-for-bit (the float feature variant stays rows-only
    because float32 rounding semantics differ across engines)."""
    import pyspark.sql.functions as F

    from probminhash_spark.operators.multimodal import extract_byte_stats

    _load(spark, sf_dir, "documents")
    # pre-sorted input + order-preserving 1:1 mapInPandas replaces the
    # trailing orderBy (r6 perf; see _ranged)
    media = _ranged(spark.table("documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = extract_byte_stats(media, n_chunks=8)
    return out.select(
        "doc_id",
        "n_bytes",
        F.concat_ws("-", F.col("chunk_sums").cast("array<string>")).alias(
            "chunk_sums_str"
        ),
        "checksum",
    )


def _multimodal_byte_stats_duck_sql(n_chunks: int = 8) -> str:
    """DuckDB replay of extract_byte_stats: utf-8 byte values via
    hex(encode(text)), np.array_split chunk sizing (first len%n chunks get
    one extra byte), integer sums."""
    return f"""
        WITH raw AS (
          -- COALESCE: Spark's encode(NULL) payload becomes b'' in the UDF
          -- ('p or b\"\"'), so the oracle must score the doc as empty too
          SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx,
                 octet_length(encode(COALESCE(text, ''))) AS nb
          FROM documents
        ),
        bytes AS (
          SELECT doc_id, nb,
            list_transform(range(CAST(nb AS BIGINT)), j ->
              CAST(16 * (strpos('0123456789ABCDEF',
                                substr(hx, 2*CAST(j AS INT)+1, 1)) - 1)
                   + (strpos('0123456789ABCDEF',
                             substr(hx, 2*CAST(j AS INT)+2, 1)) - 1)
               AS BIGINT)) AS bv
          FROM raw
        ),
        chunks AS (
          SELECT doc_id, nb,
            list_transform(range({n_chunks}), j ->
              COALESCE(list_aggregate(list_slice(bv,
                CAST(j * (nb // {n_chunks}) + LEAST(j, nb % {n_chunks}) AS INT) + 1,
                CAST((j + 1) * (nb // {n_chunks}) + LEAST(j + 1, nb % {n_chunks}) AS INT)),
                'sum'), 0)) AS cs
          FROM bytes
        )
        SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
               array_to_string(cs, '-') AS chunk_sums_str,
               CAST(COALESCE(list_aggregate(cs, 'sum'), 0) AS BIGINT) AS checksum
        FROM chunks ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LSH dedup edges on sf0.001 documents."""
    return dedup_minhash_lsh(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_nation_revenue": q5_nation_revenue,
        "q9_profit_by_nation_brand": q9_profit_by_nation_brand,
        "q_window_top_orders": q_window_top_orders,
        "q_events_tumbling": q_events_tumbling,
        "q_events_sessions": q_events_sessions,
        "q_events_topk_users": q_events_topk_users,
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_weighted_jaccard": dedup_weighted_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_minhash_weighted": dedup_minhash_weighted,
        "dedup_substring": dedup_substring,
        "dedup_clusters": dedup_clusters,
        "dedup_clusters_lsh": dedup_clusters_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_survivors": dedup_survivors,
        "text_token_stats": text_token_stats,
        "text_token_stats_bpe": text_token_stats_bpe,
        "text_quality_filter": text_quality_filter,
        "text_quality_summary": text_quality_summary,
        "ann_cosine_topk": ann_cosine_topk,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "sketch_signatures": _signature_query("sketch_signatures"),
        "sketch_signatures_sha": _signature_query("sketch_signatures_sha"),
        "sketch_superminhash": _signature_query("sketch_superminhash"),
        "sketch_superminhash_values": sketch_superminhash_values,
        "sketch_superminhash2": _signature_query("sketch_superminhash2"),
        "sketch_probminhash2": _signature_query("sketch_probminhash2"),
        "sketch_revoptdens": _signature_query("sketch_revoptdens"),
        "sketch_cardinality": sketch_cardinality,
        "sketch_simhash": sketch_simhash,
        "ann_cosine_topk_lsh": ann_cosine_topk_lsh,
        "ann_cosine_topk_ivf": ann_cosine_topk_ivf,
        "ann_lsh_recall": ann_lsh_recall,
        "ann_ivf_recall": ann_ivf_recall,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "sketch_fingerprints": sketch_fingerprints,
        "lang_id_heuristic": lang_id_heuristic,
        "sketch_ordminhash": sketch_ordminhash,
        "sketch_group_cardinality": sketch_group_cardinality,
        "sketch_group_jaccard": sketch_group_jaccard,
        "sketch_group_jaccard_banded": sketch_group_jaccard_banded,
        "sketch_group_rollup": sketch_group_rollup,
        "multimodal_features": multimodal_features,
        "multimodal_byte_stats": multimodal_byte_stats,
    }


def _lang_id_duck_sql() -> str:
    """DuckDB replay of make_lang_id_udf: same tokenization ([0-9a-z_]+ with
    non-ascii chars kept inside tokens — every byte of a multi-byte UTF-8
    char is >= 0x80, so char-class >= U+0080 mirrors the byte classifier),
    same per-language occurrence-ratio, same first-max tie order (en, es,
    fr, de), same 0.05 threshold."""
    from probminhash_spark.functions.sketch_udfs import _STOPWORDS

    hit_cols = []
    for lang, words in _STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols.append(
            f"CAST(LEN(LIST_FILTER(ts, t -> LIST_CONTAINS([{lst}], t))) AS DOUBLE)"
            f" / GREATEST(LEN(ts), 1) AS r_{lang}"
        )
    hits = ",\n         ".join(hit_cols)
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_extract_all(LOWER(text),
                     '[0-9a-z_\\x{{0080}}-\\x{{10ffff}}]+') AS ts
          FROM documents
        ),
        ratios AS (
          SELECT doc_id,
         {hits}
          FROM toks
        )
        SELECT doc_id,
               CASE WHEN GREATEST(r_en, r_es, r_fr, r_de) < 0.05 THEN 'und'
                    WHEN r_en >= r_es AND r_en >= r_fr AND r_en >= r_de THEN 'en'
                    WHEN r_es >= r_fr AND r_es >= r_de THEN 'es'
                    WHEN r_fr >= r_de THEN 'fr'
                    ELSE 'de' END AS lang_pred
        FROM ratios
        ORDER BY doc_id
    """


# --- wrapping-u64 arithmetic emulation for DuckDB oracles ------------------
# DuckDB errors on integer overflow, so the engine's u64 hash math (poly byte
# hash, SplitMix64 finalizer) is replayed in HUGEINT with explicit mod 2^64
# and 32-bit-split multiplication; xor/shift run through UBIGINT.

_M64 = "18446744073709551616"
_POLY_P = 0x100000001B3
_MIX1, _MIX2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB


def _duck_mulmod(a: str, c: int) -> str:
    """(a * c) mod 2^64 over HUGEINT: 32-bit split keeps every intermediate
    product below 2^65."""
    c_lo, c_hi = c % (1 << 32), c >> 32
    return (
        f"((({a}) % 4294967296) * {c_lo} + "
        f"(((({a}) % 4294967296) * {c_hi} + (({a}) // 4294967296) * {c_lo})"
        f" % 4294967296) * 4294967296) % {_M64}"
    )


def _duck_xorshift(a: str, k: int) -> str:
    """a ^ (a >> k) for a < 2^64 held in HUGEINT."""
    return (
        f"CAST(xor(CAST(({a}) AS UBIGINT), "
        f"CAST((({a}) // {1 << k}) AS UBIGINT)) AS HUGEINT)"
    )


def _duck_mix64_ctes(prefix: str, src: str, in_col: str, out_col: str, carry: str) -> str:
    """CTE chain applying the SplitMix64 finalizer (kernels/rng.py:35-40) to
    ``in_col`` of ``src``; emits 5 stages named {prefix}1..{prefix}5 with the
    result as ``out_col``.  ``carry`` = extra columns to thread through."""
    c = f"{carry}, " if carry else ""
    return f"""
        {prefix}1 AS (SELECT {c}{_duck_xorshift(in_col, 30)} AS z FROM {src}),
        {prefix}2 AS (SELECT {c}{_duck_mulmod('z', _MIX1)} AS z FROM {prefix}1),
        {prefix}3 AS (SELECT {c}{_duck_xorshift('z', 27)} AS z FROM {prefix}2),
        {prefix}4 AS (SELECT {c}{_duck_mulmod('z', _MIX2)} AS z FROM {prefix}3),
        {prefix}5 AS (SELECT {c}{_duck_xorshift('z', 31)} AS {out_col} FROM {prefix}4)"""


def _fingerprint_duck_sql(k: int = 8, window: int = 16) -> str:
    """DuckDB bit-exact replay of make_fingerprint_udf (winnowing, Schleimer
    et al.): byte-level char k-gram poly hashes (via hex(encode(text)) so
    multi-byte utf-8 matches the byte-domain kernel), one SplitMix64
    finalize, sliding-window minima over ``window`` consecutive grams (docs
    with fewer grams contribute their whole-doc min), distinct minima per
    doc sorted ascending in UNSIGNED order, rendered exactly like
    _scalarize_sig (len + '-'-joined signed i64 strings)."""
    horner = (
        "list_reduce(list_prepend(CAST(0 AS HUGEINT), list_reverse({lst})), "
        f"(acc, b) -> (({_duck_mulmod('acc', _POLY_P)}) + b) % {_M64})"
    )
    return f"""
        WITH raw AS (
          -- COALESCE: the Spark UDF fillna('')s NULL text and still emits a
          -- whole-content fingerprint row; the oracle must not drop the doc
          SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx,
                 octet_length(encode(COALESCE(text, ''))) AS nb
          FROM documents
        ),
        bytes AS (
          SELECT doc_id, nb,
            list_transform(range(CAST(nb AS BIGINT)), j ->
              CAST(16 * (strpos('0123456789ABCDEF',
                                substr(hx, 2*CAST(j AS INT)+1, 1)) - 1)
                   + (strpos('0123456789ABCDEF',
                             substr(hx, 2*CAST(j AS INT)+2, 1)) - 1)
                   + 1 AS HUGEINT)) AS bv
          FROM raw
        ),
        grams AS (
          SELECT doc_id, nb,
            CASE WHEN nb >= {k} THEN
              list_transform(range(CAST(nb - {k} + 1 AS BIGINT)), s ->
                {horner.format(lst=f"list_slice(bv, CAST(s AS INT) + 1, CAST(s AS INT) + {k})")})
            ELSE [{horner.format(lst="bv")}]
            END AS gs
          FROM bytes
        ),
        gram_rows AS (
          SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                 gs[CAST(t.i AS INT) + 1] AS h0, len(gs) AS n_grams
          FROM grams CROSS JOIN LATERAL
               (SELECT UNNEST(range(len(gs))) AS i) t
        ),{_duck_mix64_ctes('fm', 'gram_rows', 'h0', 'g', 'doc_id, pos, n_grams')},
        wins AS (
          SELECT doc_id, pos, n_grams,
                 MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wmin
          FROM fm5
        ),
        mins AS (
          SELECT doc_id, wmin FROM wins
          WHERE n_grams >= {window} AND pos <= n_grams - {window}
          UNION ALL
          SELECT doc_id, MIN(g) AS wmin FROM fm5
          WHERE n_grams < {window} GROUP BY doc_id
        ),
        uniq AS (SELECT DISTINCT doc_id, wmin FROM mins)
        SELECT doc_id,
               COUNT(*) AS fingerprint_len,
               STRING_AGG(CAST(CAST(CASE WHEN wmin >= {1 << 63}
                                         THEN wmin - {_M64} ELSE wmin END
                               AS BIGINT) AS VARCHAR),
                          '-' ORDER BY wmin) AS fingerprint_str
        FROM uniq GROUP BY doc_id ORDER BY doc_id
    """


def _simhash_duck_sql(order_by: bool = True) -> str:
    """DuckDB bit-exact replay of make_simhash_udf over token shingles
    (shingle_mode='token', size=1): same tokenization as the byte classifier
    (word bytes + every byte >= 0x80), FNV-prime polynomial byte hash
    (byte+1 contributions, wrapping mod 2^64), SplitMix64 finalizer applied
    TWICE (token_hashes then token_shingles w=1), per-(doc, shingle)
    multiplicities, +/-count per bit, sign-packed into a signed 64-bit
    fingerprint.  Wrapping u64 arithmetic is emulated in HUGEINT with an
    explicit mod and 32-bit-split multiplication (shared helpers above)."""
    M64, P, MIX1, MIX2 = _M64, _POLY_P, _MIX1, _MIX2
    mulmod, xorshift = _duck_mulmod, _duck_xorshift
    pow2 = ",".join(str(1 << i) for i in range(64))
    sql = f"""
        WITH toks AS (
          SELECT doc_id,
                 UNNEST(regexp_extract_all(text,
                     '[0-9A-Za-z_\\x{{0080}}-\\x{{10ffff}}]+')) AS tok
          FROM documents
        ),
        tok_bytes AS (
          SELECT doc_id, hex(encode(tok)) AS hx,
                 octet_length(encode(tok)) AS nb
          FROM toks
        ),
        poly AS (
          SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS HUGEINT),
                list_transform(range(CAST(nb AS BIGINT), 0, -1), j ->
                  CAST(16 * (strpos('0123456789ABCDEF',
                                    substr(hx, 2*CAST(j AS INT)-1, 1)) - 1)
                       + (strpos('0123456789ABCDEF',
                                 substr(hx, 2*CAST(j AS INT), 1)) - 1)
                       + 1 AS HUGEINT))),
              (acc, b) -> (({mulmod('acc', P)}) + b) % {M64}
            ) AS h0
          FROM tok_bytes
        ),
        ma1 AS (SELECT doc_id, {xorshift('h0', 30)} AS z FROM poly),
        ma2 AS (SELECT doc_id, {mulmod('z', MIX1)} AS z FROM ma1),
        ma3 AS (SELECT doc_id, {xorshift('z', 27)} AS z FROM ma2),
        ma4 AS (SELECT doc_id, {mulmod('z', MIX2)} AS z FROM ma3),
        th  AS (SELECT doc_id, {xorshift('z', 31)} AS z FROM ma4),
        mb1 AS (SELECT doc_id, {xorshift('z', 30)} AS z FROM th),
        mb2 AS (SELECT doc_id, {mulmod('z', MIX1)} AS z FROM mb1),
        mb3 AS (SELECT doc_id, {xorshift('z', 27)} AS z FROM mb2),
        mb4 AS (SELECT doc_id, {mulmod('z', MIX2)} AS z FROM mb3),
        sh  AS (SELECT doc_id, {xorshift('z', 31)} AS sh FROM mb4),
        counts AS (SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh),
        bits AS (
          SELECT doc_id, CAST(i AS INT) AS i,
                 SUM(CASE WHEN ((sh // list_element([{pow2}],
                                 CAST(i AS INT) + 1)) % 2) = 1
                          THEN c ELSE -c END) AS acc
          FROM counts CROSS JOIN range(64) t(i)
          GROUP BY doc_id, i
        ),
        packed AS (
          SELECT doc_id,
                 SUM(CASE WHEN acc > 0
                     THEN CAST(list_element([{pow2}], i + 1) AS HUGEINT)
                     ELSE 0 END) AS pk
          FROM bits GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(CASE WHEN p.pk >= {1 << 63} THEN p.pk - {M64}
                             ELSE p.pk END, 0) AS BIGINT) AS simhash64
        FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
    """
    return sql + ("ORDER BY d.doc_id" if order_by else "")


def _dedup_simhash_duck_sql() -> str:
    """Brute-force Hamming-ball oracle over the replayed fingerprints: the
    Manku block join is recall-complete for d <= max_hamming (pigeonhole),
    so the LSH output equals all-pairs bit_count filtering."""
    return f"""
        WITH fp AS ({_simhash_duck_sql(order_by=False)})
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3
        ORDER BY id_l, id_r
    """


def oracle_sql() -> dict[str, str]:
    d = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2)                          AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2)                     AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6)                          AS avg_qty,
                   ROUND(AVG(l_discount), 6)                          AS avg_disc,
                   COUNT(*)                                           AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o.o_orderkey AS orderkey,
                   ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   CAST(o.o_orderdate AS DATE) AS orderdate
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY revenue DESC, orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n.n_name AS nation,
                   ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   COUNT(*) AS line_count
            FROM region r
            JOIN nation n   ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o   ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY n.n_name
            ORDER BY nation
        """,
        "q_window_top_orders": """
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   ROUND(o_totalprice, 2) AS totalprice, CAST(rk AS BIGINT) AS rk
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders
            ) t
            WHERE rk <= 2
            ORDER BY custkey, rk
        """,
        "q_events_tumbling": """
            SELECT CAST(FLOOR(EPOCH(ts) / 300) AS BIGINT) AS window_id,
                   event_type,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY window_id, event_type
        """,
        "q_events_topk_users": """
            SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
            FROM events
            GROUP BY user_id
            HAVING COUNT(*) >= 5
            ORDER BY n_events DESC, user_id
            LIMIT 20
        """,
        "dedup_exact": """
            SELECT MD5(text) AS content_md5, COUNT(*) AS n_copies,
                   MIN(doc_id) AS first_doc_id
            FROM documents
            GROUP BY MD5(text)
            HAVING COUNT(*) > 1
            ORDER BY content_md5
        """,
        "dedup_ngram_jaccard": _NGRAM_DUCK,
        "dedup_minhash_lsh": _NGRAM_DUCK,
        "dedup_weighted_jaccard": _WJ_DUCK,
        "dedup_minhash_weighted": _WJ_DUCK,
        "dedup_substring": """
            WITH grams AS (
              SELECT doc_id,
                     UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                         RANGE(1, LEN(text) - 18),
                         i -> SUBSTR(text, i::INT, 20)))) AS g
              FROM documents WHERE LEN(text) >= 20
            )
            SELECT a.doc_id AS id_l, b.doc_id AS id_r,
                   COUNT(*) AS n_common_grams
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "dedup_clusters": """
            WITH RECURSIVE
            grams AS (
              SELECT doc_id,
                     UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                         RANGE(1, GREATEST(LEN(text) - 7, 1) + 1),
                         i -> SUBSTR(text, i::INT, 8)))) AS g
              FROM documents
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_l, b.doc_id AS id_r, COUNT(*) AS i
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            edges AS (
              SELECT id_l, id_r FROM inter
              JOIN sizes sa ON id_l = sa.doc_id
              JOIN sizes sb ON id_r = sb.doc_id
              WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
            ),
            bidir AS (
              SELECT id_l AS a, id_r AS b FROM edges
              UNION SELECT id_r, id_l FROM edges
            ),
            reach(a, b) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
            )
            SELECT a AS doc_id, MIN(b) AS cluster_id
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "text_token_stats": """
            SELECT doc_id,
                   LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
                   LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct_tokens,
                   LEN(text) AS n_chars_actual,
                   ROUND(CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE)
                         / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
            FROM documents
            ORDER BY doc_id
        """,
        "q9_profit_by_nation_brand": _Q9_SQL,
        "q_events_sessions": _SESSIONS_SQL.format(epoch="epoch(ts)"),
        "text_quality_filter": _QUALITY_FILTER_TMPL.format(
            length="LEN",
            strip_nonword="REGEXP_REPLACE(text, '[^A-Za-z0-9_ ]', '', 'g')",
            ntokens="LEN(STRING_SPLIT(text, ' '))",
        ),
        "text_token_stats_bpe": """
            SELECT doc_id,
                   LEN(regexp_extract_all(text,
                       '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n]')) AS n_bpe_tokens,
                   LEN(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_word_tokens,
                   LEN(regexp_extract_all(text,
                       '[^A-Za-z0-9_ \t\n]')) AS n_punct_tokens
            FROM documents
            ORDER BY doc_id
        """,
        "text_quality_summary": """
            SELECT lang, source, COUNT(*) AS n_docs,
                   ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
                   MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
                   ROUND(AVG(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)), 4) AS avg_tokens
            FROM documents
            GROUP BY lang, source
            ORDER BY lang, source
        """,
        "ann_cosine_topk": _COSINE_DUCK,
        "lang_id_heuristic": _lang_id_duck_sql(),
        "sketch_simhash": _simhash_duck_sql(),
        "dedup_simhash": _dedup_simhash_duck_sql(),
        "sketch_fingerprints": _fingerprint_duck_sql(),
        "multimodal_byte_stats": _multimodal_byte_stats_duck_sql(),
        "multimodal_features": _multimodal_features_duck_sql(),
        # ann_cosine_topk_lsh/_ivf: intentionally no oracle — the full
        # approximate top-k row set has no exact-match guarantee; their
        # QUALITY is hash-verified through ann_lsh_recall / ann_ivf_recall
        # below.  Those are one-row ALL-QUERIES-MUST-HIT summaries: the
        # oracle sets n_recall_ok = n_queries, so the hash match asserts
        # recall is exactly 1.0 on the planted near-duplicates (any single
        # missed query fails the contract — intentional; the planted pairs
        # sit at cos ~0.997 where bucket recall is ~1).
        "ann_lsh_recall": _ANN_RECALL_DUCK,
        "ann_ivf_recall": _ANN_RECALL_DUCK,
        "dedup_embedding_lsh": """
            WITH v AS (
              SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS e
              FROM embeddings
            ),
            norms AS (
              SELECT vec_id, e,
                     SQRT(LIST_AGGREGATE(LIST_TRANSFORM(e, x -> x * x), 'sum')) AS nrm
              FROM v
            ),
            pairs AS (
              SELECT a.vec_id AS id_l, b.vec_id AS id_r,
                     LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
                         i -> a.e[i::INT] * b.e[i::INT]), 'sum') / (a.nrm * b.nrm) AS cos
              FROM norms a JOIN norms b ON a.vec_id < b.vec_id
            )
            SELECT id_l, id_r, ROUND(cos, 6) AS cosine
            FROM pairs WHERE cos >= 0.99
            ORDER BY id_l, id_r
        """,
        "dedup_embedding_cosine": """
            WITH v AS (
              SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS e
              FROM embeddings
            ),
            norms AS (
              SELECT vec_id, e,
                     SQRT(LIST_AGGREGATE(LIST_TRANSFORM(e, x -> x * x), 'sum')) AS nrm
              FROM v
            ),
            pairs AS (
              SELECT a.vec_id AS id_l, b.vec_id AS id_r,
                     LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
                         i -> a.e[i::INT] * b.e[i::INT]), 'sum') / (a.nrm * b.nrm) AS cos
              FROM norms a JOIN norms b ON a.vec_id < b.vec_id
            )
            SELECT id_l, id_r, ROUND(cos, 6) AS cosine
            FROM pairs WHERE cos >= 0.99
            ORDER BY id_l, id_r
        """,
    }
    # LSH-edge clustering coincides with brute-force-edge clustering on this
    # corpus (J-gap assumption, asserted via on_capped='fail' in the query)
    d["dedup_clusters_lsh"] = d["dedup_clusters"]
    # survivors = docs whose min reachable id is themselves (same closure)
    d["dedup_survivors"] = (
        d["dedup_clusters"].replace(
            "SELECT a AS doc_id, MIN(b) AS cluster_id\n            FROM reach GROUP BY a ORDER BY doc_id",
            "SELECT a AS doc_id FROM reach GROUP BY a\n            HAVING a = MIN(b) ORDER BY doc_id",
        )
    )
    assert "HAVING" in d["dedup_survivors"], "survivors oracle rewrite failed"
    return d
