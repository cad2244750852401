"""Driver-contract query registry (SURVEY.md section 2 coverage).

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Oracle SQL runs on DuckDB over the same parquet tables; column names/aliases
are kept identical on both sides (the driver's compare hashes values after
sorting columns by name). Float aggregates are rounded on BOTH sides;
timestamps are emitted as formatted strings; embedding math is quantized to
int64 so cross-engine results are bit-identical.

Every registered entry carries a DuckDB oracle (zero rows-only entries):
operators whose internals are not SQL-expressible (MinHash permutations,
blake2b SimHash, distributed union-find) are verified through brute-force
or property-level oracles over the same tables — plus pytest bit-exactness
against the sequential numpy oracle (tests/test_spark_pipeline.py).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webcrawler_spark.config import DEFAULT_CONFIG, FILTER_TERMS
from webcrawler_spark.operators.similarity import (
    cosine,
    cosine_dup_pairs,
    squared_norm,
)

_FILTER_RE = "|".join(FILTER_TERMS)

# shared literals (must match SQL text below)
_STOPWORDS = ("data", "table", "row", "query", "value", "key")
_STOP_SQL = "('data','table','row','query','value','key')"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) of the documents table, round-robin repartitioned to
    the session's parallelism for a CPU-bound Python (Arrow) stage. The
    contract parquet files are written as a SINGLE row group, so the scan
    cannot split and the Arrow stage would otherwise run in <= 2 tasks;
    the shuffle moves KBs per core, while the Python work per doc is
    orders of magnitude more expensive."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )


# input bytes per partition of a cached derivative (_cache_partitions)
CACHE_PART_BYTES = 32 * 1024 * 1024


def _cache_partitions(path: str) -> int:
    """Partition count for a CACHED derivative of `path`, one per
    ``CACHE_PART_BYTES`` of input (guide §2.2 "fewer, larger partitions"):
    cached signature/feature tables are scanned many times per query, and
    each warm scan pays a task launch per partition — a cache split by core
    count costs more in task overhead than it wins in parallelism once
    partitions drop below a few MB. Scale-adaptive by construction: a
    100 TB input yields ~3M partitions, the 6 MB contract table yields 1."""
    import os

    try:
        size = os.path.getsize(path)
    except OSError:
        return 8
    return max(1, (size + CACHE_PART_BYTES - 1) // CACHE_PART_BYTES)


# --------------------------------------------------------------------------
# A. reference-operator queries
# --------------------------------------------------------------------------

def q_lang_filter_en(spark, sf_dir):
    """F1 (extractor.go:86-98): keep docs whose lang is missing or 'en-*'."""
    return (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNull()
            | (F.lower(F.split(F.col("lang"), "-")[0]) == "en")
        )
        .select("doc_id", "lang")
    )


SQL_LANG_FILTER = """
SELECT doc_id, lang FROM documents
WHERE lang IS NULL OR lower(split_part(lang, '-', 1)) = 'en'
"""


def q_title_term_filter(spark, sf_dir):
    """F2 (extractor.go:23,330-342): ci substring kill-list, applied to text."""
    return (
        load(spark, sf_dir, "documents")
        .filter(~F.lower(F.col("text")).rlike(_FILTER_RE))
        .select("doc_id")
    )


SQL_TITLE_TERM_FILTER = f"""
SELECT doc_id FROM documents
WHERE NOT regexp_matches(lower(text), '{_FILTER_RE}')
"""


def q_url_normalize(spark, sf_dir):
    """F10 (utils.go:23-33): prepend https:// when the scheme is missing."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "url_raw",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("www."), F.col("source"), F.lit(".example/p")),
        ).otherwise(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p"))
        ),
    )
    return docs.select(
        "doc_id",
        F.when(
            F.col("url_raw").startswith("http://")
            | F.col("url_raw").startswith("https://"),
            F.col("url_raw"),
        )
        .otherwise(F.concat(F.lit("https://"), F.col("url_raw")))
        .alias("url_full"),
    )


SQL_URL_NORMALIZE = """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'www.' || source || '.example/p'
              ELSE 'https://' || source || '.example/p' END AS url_raw
  FROM documents
)
SELECT doc_id,
       CASE WHEN url_raw LIKE 'http://%' OR url_raw LIKE 'https://%'
            THEN url_raw ELSE 'https://' || url_raw END AS url_full
FROM u
"""


def q_domain_extract(spark, sf_dir):
    """F11 (utils.go:11-20): hostname minus leading www."""
    docs = q_url_normalize(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_extract(F.col("url_full"), r"^(?:https?://)?([^/]+)", 1),
            r"^www\.",
            "",
        ).alias("domain"),
    )


SQL_DOMAIN_EXTRACT = f"""
WITH u AS ({SQL_URL_NORMALIZE})
SELECT doc_id,
       regexp_replace(regexp_extract(url_full, '^(?:https?://)?([^/]+)', 1),
                      '^www\\.', '') AS domain
FROM u
"""


def q_source_counts(spark, sf_dir):
    """G1 (administrator_helpers.go:22-33): per-domain visit counts."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


SQL_SOURCE_COUNTS = """
-- sum() is HUGEINT in DuckDB (renders as float); cast to match Spark BIGINT
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
"""


def q_domain_visit_cap(spark, sf_dir):
    """G2 (administrator.go:28): first 100 visits per domain (user analog),
    ordered by time."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_kept"))
    )


SQL_DOMAIN_VISIT_CAP = """
WITH r AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, count(*) AS n_kept FROM r WHERE rn <= 100 GROUP BY user_id
"""


def q_visited_anti_join(spark, sf_dir):
    """J1/F6 (administrator.go:155-157): frontier minus visited, exactly."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_VISITED_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_region_rollup(spark, sf_dir):
    """J2 (rate_limiter.go:39-58): broadcast dimension joins — order volume
    per region through customer -> nation -> region."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


SQL_REGION_ROLLUP = """
SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_event_type_allowlist(spark, sf_dir):
    """J3 (extractor.go:16-22): static allowlist membership (constant-folded)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


SQL_EVENT_TYPE_ALLOWLIST = """
SELECT event_type, count(*) AS n FROM events
WHERE event_type IN ('click','view','purchase') GROUP BY event_type
"""


def q_link_budget_topk(spark, sf_dir):
    """S2 (administrator_helpers.go:63-73): per-page link budget => first 20
    events per user by time."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("user_id", "event_id", "rn")
    )


SQL_LINK_BUDGET_TOPK = """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn <= 20
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style wide aggregation (hash agg, partial+final)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3-style join + agg + deterministic top-k.

    The fact table never shuffles. customer(BUILDING) is broadcast into
    orders (dimension-sized), and the resulting qualifying-order keys
    (|orders|/segment-count rows of one BIGINT) are broadcast into
    lineitem. The only remaining exchange is the (partially aggregated)
    groupBy, and the top-10 is a TakeOrdered, not a global sort.
    Inner-join reordering + projection keep the aggregated row multiset
    identical. Cluster-scale note: the
    qualifying-key broadcast is ~|orders|/5 keys (24 MB at sf10); beyond
    the broadcast envelope (~100M orders) drop the explicit hint and let
    AQE pick SMJ/SHJ — the declared result is join-strategy-independent."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    return (
        li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SQL_TOP_REVENUE_ORDERS = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_nation_revenue(spark, sf_dir):
    """TPC-H Q5-style multi-join rollup.

    Every join against lineitem is a broadcast: customer into orders
    (c_custkey, dimension-sized), the resulting order-key multiset
    (|orders| single-BIGINT rows) into lineitem, and supplier⋈nation
    (10k rows with n_name attached) into lineitem. Zero exchanges of fact
    rows remain except the 25-group partial-aggregated rollup. Inner-join
    reordering preserves the aggregated multiset exactly. Cluster-scale
    note: the order-key broadcast grows with |orders| (~12 MB at sf1,
    ~120 MB at sf10) — beyond the broadcast envelope, drop that hint (AQE
    falls back to SMJ/SHJ); the declared result is strategy-independent."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    return (
        li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_NATION_REVENUE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_hourly(spark, sf_dir):
    """T1/G3 analog: tumbling-window counts (timestamps emitted as strings)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            )
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """T2 analog (stateful sessionization): 30-min-gap sessions per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; cast for unix_millis — any session-tz
    # shift cancels in the gap delta
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("prev_ms", F.lag(ms).over(w))
        .withColumn(
            "is_start",
            F.when(
                F.col("prev_ms").isNull() | ((ms - F.col("prev_ms")) > 1_800_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return ev.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


SQL_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS is_start
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events
FROM sess GROUP BY 1, 2
"""


def q_error_rate_hourly(spark, sf_dir):
    """conditional aggregation: per-hour error share."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            )
        )
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            F.round(
                F.count(F.when(F.col("event_type") == "error", 1)) / F.count("*"), 4
            ).alias("error_rate"),
        )
    )


SQL_ERROR_RATE_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*) AS n_total,
       count(*) FILTER (event_type = 'error') AS n_errors,
       round(count(*) FILTER (event_type = 'error') / count(*)::double, 4) AS error_rate
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# B. dedup / training-data queries on documents + embeddings
# --------------------------------------------------------------------------

def q_exact_dup_groups(spark, sf_dir):
    """B1 (sha256 exact dedup groups)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


SQL_EXACT_DUP_GROUPS = """
SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_exact_dup_pairs(spark, sf_dir):
    """B1 edges: identical text pairs. The join key is sha2(text, 256) —
    a fixed 64-char shuffle key instead of multi-KB document text (the
    pipeline's exact_edges convention, lsh.py) — content equality at
    2^-128 collision odds, the standard exactness criterion at scale."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
    )
    a = d.select(F.col("doc_id").alias("doc_id_a"), "text_sha")
    b = d.select(F.col("doc_id").alias("doc_id_b"), "text_sha")
    return (
        a.join(b, "text_sha")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
    )


SQL_EXACT_DUP_PAIRS = """
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM documents a
JOIN documents b ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id
"""


def _shingle_hashes(toks):
    """Distinct word-5-gram keys per doc as xxhash64 over the token SLICE:
    tokens are space-split, so joining them with spaces is injective and
    hashing the 5-token slice buckets exactly like hashing the joined
    string, without ever materializing the ~40-byte shingle strings.
    Collision odds are the accepted hashed-shingle convention (see
    q_ngram_jaccard_pairs docstring). The five tokens are passed as
    separate xxhash64 arguments rather than one sliced array: no
    per-shingle array allocation, same injective keying."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda i: F.xxhash64(
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
                F.element_at(toks, i + 4),
            ),
        )
    )


def _shingle_df(spark, sf_dir):
    """distinct word-5-gram shingle KEYS per doc (docs with >= 5 tokens)."""
    return _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("hs").alias("k")
    )


def _shingle_arrays(spark, sf_dir):
    """(doc_id, hs: array<long>) — the distinct hashed 5-gram set per doc,
    CACHED: the ngram query consumes it three times (the exploded key
    stream via _shingle_df, the per-doc size projection, and the shared-key
    prefilter's key count), and without the cache each consumer re-pays
    tokenize + 200 hashes per doc. Cache partitioning stays at scan
    parallelism (unlike the signature cache, the heavy consumers here are
    the CPU-bound explodes, which want width, and there are only three
    warm scans). Same class of cached intermediate as _doc_signatures'
    shingles column."""
    d = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    return (
        d.filter(F.size("toks") >= 5)
        .select("doc_id", _shingle_hashes(F.col("toks")).alias("hs"))
        .cache()
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """exact 5-gram Jaccard dedup (brute force, SQL-parity variant of B6):
    pairs with Jaccard >= 0.8 over distinct word-5-gram sets.

    The pair stream applies the engine's deterministic bucket cap (the 200
    smallest doc_ids per shingle, lsh.py) so one boilerplate shingle shared
    by k docs cannot emit k^2 join rows at scale. The DuckDB oracle applies
    the IDENTICAL cap (row_number <= cap per shingle, ordered by doc_id), so
    the parity holds by construction at every scale — not only while no
    bucket happens to exceed the cap (at contract scale the max bucket is 4,
    so capped == uncapped anyway).

    The shingle stream is exploded ONCE and shuffled ONCE by shingle into a
    single hash aggregate: the cap is a slice of the sorted collected
    bucket (no window, no sort), and the pair explosion is the engine's
    grouped higher-order pattern, identical to a capped self-join because
    (doc_id, shingle) rows are distinct and sorted. Per-doc distinct-
    shingle counts are a per-row projection (size(array_distinct(...)) —
    no explode, no shuffle at all), joined onto the (small) surviving
    intersection pairs.

    The bucket key is xxhash64(shingle), not the shingle string (guide
    §2.3 "shuffle keys and metadata instead of payloads"): the exchanged
    row shrinks from ~40 bytes of string to 16 bytes and the window sort
    compares longs. Per-doc shingles are distinct, so absent a 64-bit
    collision the (key, doc_id) stream, the cap, and the per-pair shared
    counts are IDENTICAL to the string formulation — the same accepted
    convention as the engine's hashed-shingle metrics (operators/
    hashing.py), whose string-based oracle is green at every scale;
    collision odds are ~n_shingles^2/2^64 (~1e-11 at contract scale)."""
    from webcrawler_spark.operators.lsh import sorted_pairs

    sh = _shingle_df(spark, sf_dir)
    # the cap ("the max_bucket_size smallest doc_ids per shingle") is
    # applied INSIDE the aggregation: (k, doc_id) rows are distinct, so
    # slice(sort_array(collect_list(doc_id)), 1, cap) is exactly the
    # row_number()-window cap with zero windows and zero sorts — the one
    # exchange feeds a hash aggregate (a window would sort every partition;
    # with the partial WindowGroupLimit it would sort map-side too, for
    # ~no pruning on these mostly-unique keys). Memory note: collect_list
    # buffers a whole bucket before the slice — acceptable in this
    # brute-force parity query; the ENGINE path (lsh.py) caps before
    # collecting, which is the 100 TB-safe shape.
    #
    # Shared-key prefilter ("shuffle fewer bytes"): ~99% of shingle keys
    # are singletons that can never produce a pair, and a collect_list
    # aggregate would allocate a buffer for every one of them. Pass 1
    # exchanges the 8-byte KEY ONLY into a scalar count and keeps keys
    # seen >= 2 times; pass 2 re-explodes the cached hash arrays and
    # collects doc-lists only for those keys (the prefilter set is joined
    # map-side). Provably identical groups: a key passes the count filter
    # iff its collected list would have had size >= 2 — the same keys, the
    # same (distinct, sorted, capped) lists. Envelope: the broadcast is
    # O(keys shared by >= 2 docs) — bounded by the corpus's true shared-
    # shingle structure, fine wherever this brute-force parity query is
    # runnable at all (the all-corpus engine path is minhash_dup_pairs).
    hot = (
        _shingle_arrays(spark, sf_dir)
        .select(F.explode("hs").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("k")
    )
    grouped = (
        sh.join(F.broadcast(hot), "k")
        .groupBy("k")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("doc_id")),
                1,
                DEFAULT_CONFIG.max_bucket_size,
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    pairs = grouped.select(F.explode(sorted_pairs()).alias("p"))
    inter = pairs.groupBy(
        F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b")
    ).agg(F.count("*").alias("inter"))
    # per-doc sizes from the same cached hash arrays the key stream
    # explodes — one tokenize+hash pass per corpus, two consumers
    sizes = _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.size("hs").alias("n_sh")
    )
    na = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 5
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), capped AS (
  -- the SAME deterministic per-shingle bucket cap the engine applies (the
  -- {DEFAULT_CONFIG.max_bucket_size} smallest doc_ids per shingle), so both
  -- sides compute identical capped semantics at EVERY scale, not just while
  -- no bucket happens to exceed the cap
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn
    FROM sh
  ) WHERE rn <= {DEFAULT_CONFIG.max_bucket_size}
), inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       round(inter / (na.n_sh + nb.n_sh - inter)::double, 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_id_a
JOIN sizes nb ON nb.doc_id = doc_id_b
WHERE round(inter / (na.n_sh + nb.n_sh - inter)::double, 4) >= 0.8
"""


def q_token_count(spark, sf_dir):
    """text analysis: token counting (whitespace tokenizer)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )


SQL_TOKEN_COUNT = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
"""


def q_quality_score(spark, sf_dir):
    """text analysis: length / avg token length / stopword ratio."""
    d = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size("toks").alias("n_tokens"),
        F.round(
            (F.length("text") - F.size("toks") + 1) / F.size("toks"), 4
        ).alias("avg_token_len"),
        F.round(
            F.size(F.filter("toks", lambda t: t.isin(*_STOPWORDS))) / F.size("toks"),
            4,
        ).alias("stopword_ratio"),
    )


SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(toks) AS n_tokens,
       round((length(text) - len(toks) + 1) / len(toks)::double, 4) AS avg_token_len,
       round(len(list_filter(toks, x -> x IN {_STOP_SQL})) / len(toks)::double, 4)
         AS stopword_ratio
FROM t
"""


def q_lang_id_heuristic(spark, sf_dir):
    """text analysis: marker-token language-ID heuristic (declared 'en' when
    >= 5% marker tokens), cross-checked against the stored lang."""
    d = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    ratio = F.size(F.filter("toks", lambda t: t.isin(*_STOPWORDS))) / F.size("toks")
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


SQL_LANG_ID_HEURISTIC = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
       CASE WHEN len(list_filter(toks, x -> x IN {_STOP_SQL})) / len(toks)::double >= 0.05
            THEN 'en' ELSE 'other' END AS lang_pred
FROM t
"""


def q_doc_fingerprint(spark, sf_dir):
    """text analysis: md5 fingerprint + stable length (document identity)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp"), F.length("text").alias("n_chars_calc")
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(text) AS fp, length(text) AS n_chars_calc FROM documents
"""


def _quantized_embeddings(spark, sf_dir):
    """(vec_id, q, nrm) — the quantized embedding table with squared norms,
    CACHED for embedding_topk's two consumers (query side + corpus stream
    side): Spark's `round` on doubles goes through BigDecimal per ELEMENT,
    and the cheaper roundings (floor(x+0.5) etc.) are NOT bit-identical to
    the oracle's decimal-string HALF_UP at boundary values, so the
    expression itself must stay; caching runs it once per corpus.
    embedding_dup_pairs' rescore sides build the same plan uncached, so
    Spark's cache manager serves them from this cache once embedding_topk
    has run in the session. Same cached multi-consumer intermediate
    convention as _doc_signatures / _shingle_arrays; cache stays at session
    parallelism (the dot-product consumer is CPU-bound and wants width)."""
    return (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _quantized(F.col("embedding")).alias("q"))
        .withColumn("nrm", squared_norm("q"))
        .cache()
    )


def _quantized(col):
    """embedding floats -> int64 milli-units: exact cross-engine arithmetic."""
    return F.transform(col, lambda x: F.round(x * 1000).cast("long"))


def q_embedding_topk(spark, sf_dir):
    """similarity search: brute-force cosine top-5 neighbors for the first 10
    vectors (quantized int64 dot products => bit-identical across engines).

    Squared norms are computed once per vector before the join. The corpus
    is the stream side of the broadcast nested-loop join, at session
    parallelism, and both sides read the cached quantized table
    (``_quantized_embeddings``)."""
    e = _quantized_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("nrm").alias("na"),
    )
    nbrs = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dots = (
        nbrs.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("nbr_id"))
        .withColumn("cosine", cosine("qa", "qb", "na", "nb"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id")
    )
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> cast(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
         list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS dot,
         list_sum(list_transform(a.qv, x -> x * x)) AS na,
         list_sum(list_transform(b.qv, x -> x * x)) AS nb
  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id != b.vec_id
), ranked AS (
  SELECT query_id, nbr_id,
         round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                                     nbr_id) AS rank
  FROM dots
)
SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_embedding_dup_pairs(spark, sf_dir):
    """embedding-cosine near-dup detection: all pairs with cosine >= 0.95
    over the milli-unit quantized vectors, via ``cosine_dup_pairs``:
    hyperplane-LSH bucketed candidates + exact int64 rescore (the only
    shuffle is by bucket key — no crossJoin anywhere; the DuckDB oracle
    stays the brute-force all-pairs formulation). Candidate recall at the
    0.95 threshold is 1 - ~5.4e-6 per boundary pair (96 tables x 20 bits:
    per-bit match p = 1 - acos(.95)/pi ~ 0.899, per-table bucket hit
    p^20 ~ 0.119, miss all 96 tables (1-0.119)^96 ~ 5.4e-6; pairs at
    >= 0.97 miss with < 1e-9); rescoring makes precision exactly 1. The
    planted >= 0.95 regime is covered by
    test_lsh_candidate_pairs_cover_planted_pairs."""
    # single-row-group input: repartition so the hyperplane signature
    # stage (Python matmuls) runs at session width
    v = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _quantized(F.col("embedding")).alias("v"))
    )
    return cosine_dup_pairs(v, 96, 20, 0.95)


SQL_EMBEDDING_DUP_PAIRS = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> cast(round(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(a.qv, x -> x * x)))
                * sqrt(list_sum(list_transform(b.qv, x -> x * x)))), 6) AS cosine
FROM q a JOIN q b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(a.qv, x -> x * x)))
               * sqrt(list_sum(list_transform(b.qv, x -> x * x)))), 6) >= 0.95
"""


def q_extract_visible_text(spark, sf_dir):
    """F7 driver-checked byte-identity: wrap each document's text in a page,
    run the full extraction stage, and return the extracted text — the
    oracle is the identity on documents.

    doc_id rides through the Arrow stage (``extract_pages``), so no join
    back on url is needed. The scan is repartitioned before the Arrow
    stage for the reason ``_text_docs`` gives."""
    from webcrawler_spark.extract.spark_extract import extract_pages, good_pages

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    web = d.select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html lang="en"><head></head><body><p>'),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("doc_id"),
    )
    pages = good_pages(extract_pages(web))
    return pages.select("doc_id", "text")


SQL_EXTRACT_VISIBLE_TEXT = """
SELECT doc_id, text FROM documents
"""


def _page_df(spark, sf_dir):
    """Synthesized pages exercising links/headings/meta through the real
    extraction stage (F7-F9, F12, G4): deterministic html per document.
    Repartitioned before the Arrow stage (see ``_text_docs``)."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select(
        "doc_id",
        F.concat(F.lit("https://docs.example/p/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html lang="en"><head>'),
                F.lit('<meta property="og:site_name" content="'),
                F.col("source"),
                F.lit('">'),
                F.lit('<meta property="article:published_time" '
                      'content="2025-03-0'),
                (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit('T12:00:00Z">'),
                F.lit("</head><body>"),
                F.lit("<h1>"),
                F.col("source"),
                F.lit(" heading</h1>"),
                F.lit('<a href="/internal/x">in</a>'),
                F.lit('<a href="https://ext'),
                (F.col("doc_id") % 7).cast("string"),
                F.lit('.example/y">out</a>'),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit('<a href="https://twitter.com/acct">tw</a>'),
                ).otherwise(F.lit("")),
                F.lit("<p>body</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )


def _extracted_pages(spark, sf_dir):
    # doc_id rides through the Arrow stage (see q_extract_visible_text)
    from webcrawler_spark.extract.spark_extract import extract_pages, good_pages

    return good_pages(extract_pages(_page_df(spark, sf_dir)))


def q_link_classification(spark, sf_dir):
    """F8/F9 (extractor.go:255-303): internal/external split + social
    allowlist, via real extraction; oracle derives the same counts
    relationally from the html construction rule."""
    p = _extracted_pages(spark, sf_dir)
    return p.select(
        "doc_id",
        F.size("internal_links").alias("n_internal"),
        F.size("external_links").alias("n_external"),
        F.size("social_links").alias("n_social"),
        F.element_at("external_links", 1).alias("first_external"),
    )


SQL_LINK_CLASSIFICATION = """
SELECT doc_id,
       1 AS n_internal,
       CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_external,
       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_social,
       'https://ext' || (doc_id % 7) || '.example/y' AS first_external
FROM documents
"""


def q_headings_extract(spark, sf_dir):
    """G4 (extractor.go:354-362): headings map grouped by level."""
    p = _extracted_pages(spark, sf_dir)
    return p.select(
        "doc_id",
        F.size(F.col("headings")["h1"]).alias("n_h1"),
        F.element_at(F.col("headings")["h1"], 1).alias("h1_text"),
    )


SQL_HEADINGS_EXTRACT = """
SELECT doc_id, 1 AS n_h1, source || ' heading' AS h1_text FROM documents
"""


def q_meta_timestamps(spark, sf_dir):
    """F12 (extractor.go:232-252): strict RFC3339 meta timestamp parse +
    OpenGraph map extraction."""
    p = _extracted_pages(spark, sf_dir)
    return p.select(
        "doc_id",
        # epoch seconds: session-timezone-invariant on both engines
        F.unix_seconds(F.col("date_published")).alias("published_epoch"),
        F.col("open_graph")["og:site_name"].alias("og_site"),
    )


SQL_META_TIMESTAMPS = """
SELECT doc_id,
       epoch(('2025-03-0' || (doc_id % 9 + 1) || ' 12:00:00')::TIMESTAMP)::BIGINT
         AS published_epoch,
       source AS og_site
FROM documents
"""


def q_link_interleave(spark, sf_dir):
    """S3 analog (administrator_helpers.go:77-118): round-robin interleave of
    two per-user event streams (clicks vs views) — flatten(zip_with(...)),
    truncated to the shorter stream like the reference's alternation."""
    ev = load(spark, sf_dir, "events")

    def ids_of(t):
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("user_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ts", "event_id"))),
                    lambda s: s["event_id"],
                ).alias(t + "s")
            )
        )

    joined = ids_of("click").join(ids_of("view"), "user_id")
    inter = F.flatten(
        F.zip_with(
            F.slice("clicks", 1, F.least(F.size("clicks"), F.size("views"))),
            F.slice("views", 1, F.least(F.size("clicks"), F.size("views"))),
            lambda c, v: F.array(c, v),
        )
    )
    return joined.select(
        "user_id",
        F.size("clicks").alias("n_clicks"),
        F.size("views").alias("n_views"),
        inter.alias("interleaved"),
    ).withColumn("interleaved", F.concat_ws(",", F.col("interleaved")))


SQL_LINK_INTERLEAVE = """
WITH c AS (
  SELECT user_id,
         list_transform(list_sort(list((ts, event_id))), s -> s[2]) AS clicks
  FROM events WHERE event_type = 'click' GROUP BY user_id
), v AS (
  SELECT user_id,
         list_transform(list_sort(list((ts, event_id))), s -> s[2]) AS views
  FROM events WHERE event_type = 'view' GROUP BY user_id
)
SELECT c.user_id, len(clicks) AS n_clicks, len(views) AS n_views,
       array_to_string(
         flatten(list_transform(
           list_zip(clicks[1:least(len(clicks), len(views))],
                    views[1:least(len(clicks), len(views))]),
           p -> [p[1], p[2]])), ',') AS interleaved
FROM c JOIN v ON c.user_id = v.user_id
"""


# --------------------------------------------------------------------------
# C. flagship dedup path — the engine runs MinHash/LSH/union-find; the
#    DuckDB oracle recomputes the SAME answer brute-force in SQL (string
#    5-gram shingles; recursive-CTE label propagation for components). The
#    engine's candidate generation is exact-recall at contract scale
#    (pytest-pinned vs the sequential numpy oracle), so any divergence from
#    the brute-force SQL is a real bug, not sampling noise.
# --------------------------------------------------------------------------

def _doc_signatures(spark, sf_dir):
    """The documents' signature table, cached: the edge builders read it
    from many branches (exact, bucket rows, tier-1, verify), each of which
    would otherwise re-run the Arrow signature stage. The pipeline path
    writes signatures to parquet instead.

    The cache holds only the columns build_edges reads under
    DEFAULT_CONFIG: doc_id, sha256, n_chars, n_shingles, bands, anchors and
    the exact-mode verify input, shingles. The 128-long minhash array is
    dropped: nothing downstream reads it in exact mode.

    The documents are split by core count for the CPU-bound Arrow stage
    (``_text_docs``), but the cache is repartitioned by doc_id into
    ``_cache_partitions`` of the documents file (~32 MB each): every warm
    scan pays one task launch per cached partition, and cached plans pin
    their partitioning, so AQE cannot coalesce them later."""
    from webcrawler_spark.operators.signatures import compute_signatures

    return (
        compute_signatures(_text_docs(spark, sf_dir), DEFAULT_CONFIG)
        .select("doc_id", "sha256", "n_chars", "n_shingles", "bands", "anchors", "shingles")
        .repartition(_cache_partitions(f"{sf_dir}/documents.parquet"), "doc_id")
        .cache()
    )


def q_minhash_dup_pairs(spark, sf_dir):
    """B2-B6: MinHash/LSH near-dup pairs (verified Jaccard >= 0.8), through
    the real engine path: signatures -> banded LSH buckets -> exact-Jaccard
    verify. The oracle is the brute-force all-pairs Jaccard >= 0.8 set —
    equality IS the recall/precision check."""
    from webcrawler_spark.operators.lsh import build_edges

    return (
        build_edges(_doc_signatures(spark, sf_dir), DEFAULT_CONFIG)
        .filter(F.col("kind") == "near")
        .select(F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b"))
    )


# brute-force shingle pair metrics shared by the dedup oracles: exact
# w-gram Jaccard and containment over distinct word-w-gram sets
# (w = DEFAULT_CONFIG.shingle_w, interpolated — DuckDB list slices are
# inclusive, so t[i:i+w-1] is a w-token window)
_SQL_PAIR_METRICS = f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {DEFAULT_CONFIG.shingle_w}
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(t[i:i+{DEFAULT_CONFIG.shingle_w - 1}], ' ')
                 for i in range(1, len(t) - {DEFAULT_CONFIG.shingle_w - 2})]) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), metrics AS (
  SELECT ia, ib,
         n / (na.n_sh + nb.n_sh - n)::double AS jac,
         n / least(na.n_sh, nb.n_sh)::double AS cont
  FROM inter
  JOIN sizes na ON na.doc_id = ia
  JOIN sizes nb ON nb.doc_id = ib
)
"""

SQL_MINHASH_DUP_PAIRS = f"""
WITH {_SQL_PAIR_METRICS}
SELECT ia AS doc_id_a, ib AS doc_id_b FROM metrics WHERE jac >= 0.8
"""


def q_substring_dup_pairs(spark, sf_dir):
    """B8 (suffix pass): exact-substring containment pairs, the substring
    kind of ``build_edges`` (anchor-sampled candidates -> tier-1 estimate ->
    C-level smaller-in-larger verify). Oracle = brute-force position() over all
    pairs UNDER THE ENGINE'S STATED PRECONDITIONS (suffix.py module doc):
    the contained doc has >= shingle_w tokens (a shorter doc's whole-
    sequence fallback shingle can never match the container's w-grams) and
    the lengths differ (equal length + substring = identical text = an
    exact-kind edge, gated out of the substring pass). Within those
    preconditions, equality is a hard recall check: the tier-1 anchor
    estimate is exactly 1 for true substring pairs whose contained doc kept
    >= 1 anchor, and that residual anchor class — odds (1-1/8)^m for m
    shingles — is documented in suffix.py, not silently absorbed by the
    oracle."""
    from webcrawler_spark.operators.lsh import build_edges

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        build_edges(_doc_signatures(spark, sf_dir), DEFAULT_CONFIG, docs=docs)
        .filter(F.col("kind") == "substring")
        .select(F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b"))
    )


# brute-force exact-substring pairs under the engine's preconditions:
# contained side >= shingle_w tokens, strictly different lengths.
# shingle_w is interpolated from DEFAULT_CONFIG so a config change can
# never silently desynchronize oracle and engine.
_SQL_SUBSTRING_PRED = f"""
length(a.text) <> length(b.text)
  AND CASE WHEN length(a.text) < length(b.text)
           THEN len(string_split(a.text, ' ')) >= {DEFAULT_CONFIG.shingle_w}
                AND position(a.text IN b.text) > 0
           ELSE len(string_split(b.text, ' ')) >= {DEFAULT_CONFIG.shingle_w}
                AND position(b.text IN a.text) > 0 END
"""

SQL_SUBSTRING_DUP_PAIRS = f"""
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM documents a JOIN documents b ON a.doc_id < b.doc_id
WHERE {_SQL_SUBSTRING_PRED}
"""


# shared constants of the simhash property probe — single source for BOTH
# the engine query and its SQL oracle (interpolated below), so neither side
# can drift alone. MIN_TOKENS picks docs long enough that the planted
# variant edit touches only a small fraction of shingles; VARIANT_HAMMING
# is the separation boundary (measured: variants <= 10 bits, shingle-
# disjoint docs >= 21 bits at sf0.001/sf0.01).
SIMHASH_PROBE_MIN_TOKENS = 50
SIMHASH_VARIANT_HAMMING = 15


def _shingle_array(text_col):
    """Array of word-w-gram shingle strings (JVM-side, probe scale)."""
    w = DEFAULT_CONFIG.shingle_w
    toks = F.split(text_col, " ")
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - w),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
    )


def q_simhash_consistency(spark, sf_dir):
    """B7 driver gate: SQL-checkable PROPERTIES of the engine SimHash.

    Plants a controlled corpus through the REAL signature stage
    (documents + exact copies at doc_id+1e6 + drop-last-token variants at
    doc_id+2e6, over docs with >= 50 tokens) and emits per pair kind how
    many pairs satisfy the kind's fingerprint property:

    - ``copy``: fp_a == fp_b — mathematically guaranteed (same text =>
      same shingle set => same fingerprint); any miss is a determinism bug.
    - ``variant``: hamming <= 15 — dropping the last token changes only
      shingle_w-1 of ~50-95 shingles. The engine's operational near-dup
      gate is hamming <= 3, but at these contract-table doc lengths (50-99
      tokens) a 4-shingle delta measurably flips up to ~10 bits (measured
      max 10 at sf0.01 / 9 at sf0.001), so 3 is not a sound planted claim;
      15 is the separation boundary with margin on both sides.
    - ``random``: hamming > 15 for consecutive SHINGLE-DISJOINT base docs
      (measured min 21 at sf0.001, 24 at sf0.01 — docs sharing no w-gram
      concentrate near hamming ~32). Pairs whose texts share any shingle
      are excluded from this family by construction (on BOTH sides), so a
      foreign corpus with near-identical docs at consecutive doc_ids can
      never be claimed as "random".

    The oracle derives the same counts from the family construction alone:
    every pair must satisfy its kind's property. Corpora with < 1 base doc
    (or no disjoint consecutive pair) emit no row for the missing kind on
    either side."""
    from webcrawler_spark.operators.signatures import compute_signatures

    docs = _text_docs(spark, sf_dir)
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= SIMHASH_PROBE_MIN_TOKENS)
    copies = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    variants = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(variants)
    fps = compute_signatures(corpus, DEFAULT_CONFIG).select("doc_id", "simhash")

    base_ids = base.select("doc_id")
    copy_pairs = base_ids.select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 1_000_000).alias("b"),
        F.lit("copy").alias("kind"),
    )
    var_pairs = base_ids.select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 2_000_000).alias("b"),
        F.lit("variant").alias("kind"),
    )
    # consecutive-base pairing (global window: ~hundreds of scalar rows at
    # contract scale — this is a property probe, not a scale path), keeping
    # only shingle-disjoint pairs so planted-duplicate neighbors can never
    # land in the "random" family
    w = Window.orderBy("doc_id")
    rand_pairs = (
        base.withColumn("b", F.lead("doc_id").over(w))
        .withColumn("text_b", F.lead("text").over(w))
        .filter(F.col("b").isNotNull())
        .filter(
            ~F.arrays_overlap(
                _shingle_array(F.col("text")), _shingle_array(F.col("text_b"))
            )
        )
        .select(F.col("doc_id").alias("a"), "b", F.lit("random").alias("kind"))
    )
    pairs = copy_pairs.unionByName(var_pairs).unionByName(rand_pairs)
    fa = fps.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fp_a"))
    fb = fps.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fp_b"))
    ham = F.expr("bit_count(fp_a ^ fp_b)")
    satisfied = (
        F.when(F.col("kind") == "copy", F.col("fp_a") == F.col("fp_b"))
        .when(F.col("kind") == "variant", ham <= SIMHASH_VARIANT_HAMMING)
        .otherwise(ham > SIMHASH_VARIANT_HAMMING)
    )
    return (
        pairs.join(fa, "a")
        .join(fb, "b")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(satisfied.cast("long")).alias("n_satisfied"),
        )
    )


# mirrors q_simhash_consistency's construction exactly: same MIN_TOKENS
# gate, same consecutive pairing, same shingle-disjoint filter for the
# "random" family; HAVING guards drop kinds with zero pairs (the engine's
# groupBy never emits them), so tiny/foreign corpora stay in agreement
SQL_SIMHASH_CONSISTENCY = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {SIMHASH_PROBE_MIN_TOKENS}
), consec AS (
  SELECT doc_id AS a, lead(doc_id) OVER (ORDER BY doc_id) AS b,
         t AS ta, lead(t) OVER (ORDER BY doc_id) AS tb
  FROM base
), disjoint AS (
  SELECT a, b FROM consec
  WHERE b IS NOT NULL AND len(list_intersect(
    [array_to_string(ta[i:i+{DEFAULT_CONFIG.shingle_w - 1}], ' ')
     for i in range(1, len(ta) - {DEFAULT_CONFIG.shingle_w - 2})],
    [array_to_string(tb[i:i+{DEFAULT_CONFIG.shingle_w - 1}], ' ')
     for i in range(1, len(tb) - {DEFAULT_CONFIG.shingle_w - 2})])) = 0
)
SELECT 'copy' AS kind, count(*) AS n_pairs, count(*) AS n_satisfied FROM base
HAVING count(*) > 0
UNION ALL
SELECT 'variant', count(*), count(*) FROM base HAVING count(*) > 0
UNION ALL
SELECT 'random', count(*), count(*) FROM disjoint HAVING count(*) > 0
"""


# one union-find execution per contract sweep: q_dedup_filter derives from
# the SAME assignments DataFrame (whose union-find work is materialized in
# localCheckpoints at build time) instead of re-running the engine. Keyed by
# session identity so a fresh SparkSession never sees another session's
# checkpointed RDDs — (applicationId, startTime), NOT id(spark): CPython
# reuses object ids after GC, so a later session could otherwise inherit a
# memo bound to a stopped SparkContext. bench.py clears this between reps.
_CLUSTERS_CACHE: dict[tuple[str, int, str], DataFrame] = {}


def _session_key(spark) -> tuple[str, int]:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def clear_clusters_cache() -> None:
    _CLUSTERS_CACHE.clear()


def q_dedup_clusters(spark, sf_dir):
    """B9-B11: full dedup clusters over documents (union-find), through the
    exact / near / containment / substring edge kinds. SimHash is not an
    edge kind: its fingerprint is checked by the `simhash_consistency`
    query (config.py docstring)."""
    from webcrawler_spark.operators.components import assign_clusters
    from webcrawler_spark.operators.lsh import build_edges

    key = (*_session_key(spark), sf_dir)
    hit = _CLUSTERS_CACHE.get(key)
    if hit is not None:
        return hit
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = _doc_signatures(spark, sf_dir)
    # build_edges' internal persists stay alive here on purpose: within a
    # contract/bench sweep the CacheManager re-serves them to identical
    # plans (the long-running pipeline path DOES unpersist after its edges
    # stage commits — plans/pipeline.py)
    edges = build_edges(sigs, DEFAULT_CONFIG, docs=docs)
    out = assign_clusters(docs, edges).select("doc_id", "cluster_id")
    _CLUSTERS_CACHE[key] = out
    return out


# Connected components in SQL: derive the same edge kinds brute-force
# (exact text via sha256, Jaccard >= tau, containment >= tau, exact
# substring via position() under the engine's stated preconditions), then
# iterate min-label propagation as a recursive CTE (UNION dedups =>
# terminates at the transitive closure; cluster id = min reachable doc_id,
# the engine's min-root convention). SimHash is not an edge kind on
# either side (q_dedup_clusters docstring). ``reach`` is shared by the
# clusters and filter oracles.
_SQL_DEDUP_REACH = f"""
WITH RECURSIVE {_SQL_PAIR_METRICS},
jc_edges AS (
  SELECT ia AS a, ib AS b FROM metrics WHERE jac >= 0.8 OR cont >= 0.8
),
exact_e AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM documents a
  JOIN documents b ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id
),
sub_e AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM documents a JOIN documents b ON a.doc_id < b.doc_id
  WHERE {_SQL_SUBSTRING_PRED}
),
edges AS (
  SELECT a, b FROM jc_edges
  UNION SELECT a, b FROM exact_e
  UNION SELECT a, b FROM sub_e
),
sym AS (
  SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.dst
)
"""

SQL_DEDUP_CLUSTERS = (
    _SQL_DEDUP_REACH
    + "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src\n"
)


def q_dedup_filter(spark, sf_dir):
    """The end-use of the dedup engine in a training-data pipeline: keep one
    canonical document per duplicate cluster (min doc_id) and drop the rest.
    Reuses the memoized cluster assignments from q_dedup_clusters (one
    union-find execution per contract sweep, not two); the oracle filters
    the same recursive-CTE component labels."""
    clusters = q_dedup_clusters(spark, sf_dir)
    return (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )


SQL_DEDUP_FILTER = (
    _SQL_DEDUP_REACH
    + "SELECT src AS doc_id FROM reach GROUP BY src HAVING src = min(dst)\n"
)


def q_dedup_recall(spark, sf_dir):
    """North-star recall gate, driver-visible: plant deterministic near-dup
    variants of the documents table (doc_id % 5 == 0, >= 24 tokens: drop the
    last 3 tokens => 5-gram Jaccard (m-7)/(m-4) >= 0.8), run the REAL engine
    path (signatures -> LSH -> verify -> edges) over originals + variants,
    and report (n_truth, n_found, recall). The oracle computes the same
    truth set brute-force and asserts recall == 1.0 — any missed planted
    pair turns this row red."""
    from webcrawler_spark.operators.lsh import build_edges
    from webcrawler_spark.operators.signatures import compute_signatures

    docs = _text_docs(spark, sf_dir)
    toks = F.split("text", " ")
    variants = (
        docs.filter((F.col("doc_id") % 5 == 0) & (F.size(toks) >= 24))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 3), " ").alias("text"),
        )
    )
    corpus = docs.unionByName(variants)
    edges = build_edges(
        compute_signatures(corpus, DEFAULT_CONFIG), DEFAULT_CONFIG, docs=corpus
    )
    found = (
        edges.select("a", "b")
        .distinct()
        .filter(F.col("b") - F.col("a") == 1_000_000)
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    truth = variants.select((F.col("doc_id") - 1_000_000).alias("doc_id"))
    joined = truth.join(found.withColumn("hit", F.lit(1)), "doc_id", "left")
    return joined.agg(
        F.count("*").alias("n_truth"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_found"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 4
        ).alias("recall"),
    )


SQL_DEDUP_RECALL = """
WITH truth AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) >= 24
)
SELECT count(*) AS n_truth, count(*) AS n_found, 1.0::DOUBLE AS recall FROM truth
"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup (the resume-and-continue semantics of
    administrator.go:251-276 at content level): the corpus is split into an
    existing 3/4 (doc_id % 4 != 3) and a new crawl increment (doc_id % 4 ==
    3); the existing part is deduped once into persisted state (capped
    bucket table + signatures + assignments — operators/incremental.py),
    then ONLY the increment is signatured and joined against the state's
    touched bucket keys, emitting new-vs-old and new-vs-new edges and
    extending assignments via union-find seeded with the existing cluster
    ids. The oracle is the FULL-RECOMPUTE answer over the concatenated
    corpus (same recursive-CTE SQL as dedup_clusters): value-hash equality
    proves increment + state == batch recompute, doc for doc."""
    from webcrawler_spark.config import DEFAULT_CONFIG as _cfg
    from webcrawler_spark.operators.incremental import (
        build_dedup_state,
        incremental_dedup,
    )

    docs = _text_docs(spark, sf_dir)
    old_docs = docs.filter(F.col("doc_id") % 4 != 3)
    new_docs = docs.filter(F.col("doc_id") % 4 == 3)
    state = build_dedup_state(old_docs, _cfg)
    return incremental_dedup(state, new_docs, docs, _cfg)


SQL_DEDUP_INCREMENTAL = SQL_DEDUP_CLUSTERS


def q_multimodal_dup_pairs(spark, sf_dir, kind):
    """Multimodal near-dup detection of one asset ``kind`` through a REAL
    codec branch: each doc_id keys a deterministic asset ('image': a 16x16
    P6 PPM whose raster is the 'img' md5 nibble stream; 'audio': a mono
    8-bit PCM WAV whose 768 samples are the 'aud' stream), with planted
    near-copies (doc_id % IMG_COPY_MOD == 0 perturbs ~1% of doc_id-1's
    nibbles — multimodal._synth_planted_assets). The engine decodes
    payloads, takes centered profiles and runs the one vector near-dup
    operator (multimodal.asset_dup_pairs -> similarity.cosine_dup_pairs:
    hyperplane-LSH candidates, no crossJoin, exact int64 rescore). Each
    kind's oracle reconstructs the same assets in SQL (DuckDB md5 ==
    hashlib.md5) and scores ALL pairs brute-force — equality is the recall
    check. Separation is wide (planted copies cosine >= ~0.97, unrelated
    md5 rasters <= ~0.17 measured at 1000 ids), so the 0.9 threshold sits
    in a structural void."""
    from webcrawler_spark.operators.multimodal import (
        _synth_planted_assets,
        asset_dup_pairs,
    )

    # repartition the single-row-group id scan so synthesis, codec decode
    # and profiling (all Python) run at session width
    ids = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return asset_dup_pairs(_synth_planted_assets(ids, kind)).select(
        F.col("asset_id_a").alias("doc_id_a"),
        F.col("asset_id_b").alias("doc_id_b"),
        "cosine",
    )


# brute-force oracle: rebuild each doc's nibble raster from md5 hexdigests
# (24 blocks of 32 hex chars => 768 nibbles), apply the planted-copy
# perturbation, center exactly like the engine (768*x - sum, pure int64),
# score all pairs. Constants interpolated from multimodal.py so neither
# side can drift alone.
def _sql_multimodal_dup_pairs(prefix: str = "img") -> str:
    from webcrawler_spark.operators.multimodal import (
        IMG_COPY_MOD as CM,
        IMG_MD5_BLOCKS as MB,
        IMG_N as N,
        IMG_PERTURB_MOD as PM,
    )

    return f"""
WITH seeds AS (
  SELECT doc_id,
         CASE WHEN doc_id % {CM} = 0 AND doc_id > 0
              THEN doc_id - 1 ELSE doc_id END AS s
  FROM documents
), hx AS (
  SELECT doc_id,
         string_agg(md5('{prefix}:' || s || ':' || k), '' ORDER BY k) AS h
  FROM seeds, range(0, {MB}) t(k)
  GROUP BY doc_id
), nib AS (
  SELECT doc_id,
         [CASE WHEN doc_id % {CM} = 0 AND doc_id > 0
                    AND (i - 1 + doc_id) % {PM} = 0
               THEN (instr('0123456789abcdef', h[i]) - 1 + 1 + doc_id % 11) % 16
               ELSE instr('0123456789abcdef', h[i]) - 1 END
          for i in range(1, {N + 1})] AS v
  FROM hx
), prof AS (
  SELECT doc_id,
         list_transform(v, x -> {N} * x - list_sum(v)::BIGINT) AS f
  FROM nib
), dots AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         round(list_sum(list_transform(list_zip(a.f, b.f), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.f, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.f, x -> x * x)))), 6) AS cosine
  FROM prof a JOIN prof b ON a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, cosine FROM dots WHERE cosine >= 0.9
"""


SQL_MULTIMODAL_DUP_PAIRS = _sql_multimodal_dup_pairs("img")
SQL_MULTIMODAL_AUDIO_DUP_PAIRS = _sql_multimodal_dup_pairs("aud")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # A. reference operators
    "lang_filter_en": (q_lang_filter_en, SQL_LANG_FILTER),
    "title_term_filter": (q_title_term_filter, SQL_TITLE_TERM_FILTER),
    "url_normalize": (q_url_normalize, SQL_URL_NORMALIZE),
    "domain_extract": (q_domain_extract, SQL_DOMAIN_EXTRACT),
    "source_counts": (q_source_counts, SQL_SOURCE_COUNTS),
    "domain_visit_cap": (q_domain_visit_cap, SQL_DOMAIN_VISIT_CAP),
    "visited_anti_join": (q_visited_anti_join, SQL_VISITED_ANTI_JOIN),
    "region_rollup": (q_region_rollup, SQL_REGION_ROLLUP),
    "event_type_allowlist": (q_event_type_allowlist, SQL_EVENT_TYPE_ALLOWLIST),
    "link_budget_topk": (q_link_budget_topk, SQL_LINK_BUDGET_TOPK),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "error_rate_hourly": (q_error_rate_hourly, SQL_ERROR_RATE_HOURLY),
    # B. dedup / training-data ops
    "exact_dup_groups": (q_exact_dup_groups, SQL_EXACT_DUP_GROUPS),
    "exact_dup_pairs": (q_exact_dup_pairs, SQL_EXACT_DUP_PAIRS),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "lang_id_heuristic": (q_lang_id_heuristic, SQL_LANG_ID_HEURISTIC),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_dup_pairs": (q_embedding_dup_pairs, SQL_EMBEDDING_DUP_PAIRS),
    "extract_visible_text": (q_extract_visible_text, SQL_EXTRACT_VISIBLE_TEXT),
    "link_classification": (q_link_classification, SQL_LINK_CLASSIFICATION),
    "headings_extract": (q_headings_extract, SQL_HEADINGS_EXTRACT),
    "meta_timestamps": (q_meta_timestamps, SQL_META_TIMESTAMPS),
    "link_interleave": (q_link_interleave, SQL_LINK_INTERLEAVE),
    # C. flagship dedup path (engine vs brute-force SQL oracle)
    "minhash_dup_pairs": (q_minhash_dup_pairs, SQL_MINHASH_DUP_PAIRS),
    "substring_dup_pairs": (q_substring_dup_pairs, SQL_SUBSTRING_DUP_PAIRS),
    "simhash_consistency": (q_simhash_consistency, SQL_SIMHASH_CONSISTENCY),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_filter": (q_dedup_filter, SQL_DEDUP_FILTER),
    "dedup_recall": (q_dedup_recall, SQL_DEDUP_RECALL),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "multimodal_dup_pairs": (
        partial(q_multimodal_dup_pairs, kind="image"),
        SQL_MULTIMODAL_DUP_PAIRS,
    ),
    "multimodal_audio_dup_pairs": (
        partial(q_multimodal_dup_pairs, kind="audio"),
        SQL_MULTIMODAL_AUDIO_DUP_PAIRS,
    ),
}
