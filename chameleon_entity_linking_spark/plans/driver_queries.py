"""Driver-contract queries: each entry maps a SURVEY.md §2 operator
(or a training-data-pipeline operator) to a Spark implementation plus
an exactly-equivalent DuckDB oracle SQL string.

Parity disciplines (so the driver's order-insensitive value-hash
matches bit-for-bit):
- money/measure sums -> exact integers: ``sum(round(x*100) :: bigint)``
  (no float accumulation-order sensitivity);
- ratios -> exact small-int divisions (identical doubles both sides);
- dot products / norms -> *ordered* sequential folds (Spark
  ``aggregate``, DuckDB ``list_reduce``) so doubles are bitwise equal;
- hashes -> md5 hex prefixes (both engines agree), never engine hash();
- every rank window carries a total-order tiebreak;
- aggregate/computed columns aliased identically on both sides.

REGISTRY maps name -> (spark_fn, oracle_sql | None). ``None`` marks
genuinely non-SQL-expressible entries (iterative CC is SQL-oracled via
a recursive CTE; the full ER pipeline is rows-only).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.sources.readers import load

# --------------------------------------------------------------------------
# shared token expressions (see functions/tokenize.py for the contract)
# --------------------------------------------------------------------------

TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _toks(col="text"):
    return F.filter(
        F.split(F.lower(F.col(col)), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def _cents(col, scale=100):
    """Exact integer units — accumulation-order-proof aggregation."""
    return F.round(col * scale, 0).cast("long")


# --------------------------------------------------------------------------
# TPC-H-shaped operator family (SURVEY.md §2.1/2.3/2.4/2.5/2.6)
# --------------------------------------------------------------------------


def q_scan_filter_agg(spark: SparkSession, sf: str) -> DataFrame:
    """S1 scan + P1/P8 filter/project + A5 aggregate (TPC-H Q1 shape)."""
    li = load(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_SCAN_FILTER_AGG = """
SELECT l_returnflag, l_linestatus,
       sum(round(l_quantity*100,0)::BIGINT)::BIGINT AS sum_qty_cents,
       sum(round(l_extendedprice*(1-l_discount)*100,0)::BIGINT)::BIGINT AS revenue_cents,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_agg_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """J1/J2 multi-way equi-join + A5 (broadcast the dimension)."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        )
    )


SQL_JOIN_AGG = """
SELECT n_name,
       count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice*100,0)::BIGINT)::BIGINT AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """P2/J7 membership semi-join (prune_retrieved analogue)."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_SEMI_JOIN = """
SELECT c_mktsegment, count(*)::BIGINT AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6 anti-join (merge-with-dedup complement)."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
        )
    )


SQL_ANTI_JOIN = """
SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
       min(c_custkey) AS min_custkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_union_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """J6 union-with-dedup run merge (merge_results analogue)."""
    orders = load(spark, sf, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    return a.unionByName(b).distinct().agg(
        F.count("*").alias("n_merged_customers")
    )


SQL_UNION_DEDUP = """
SELECT count(*)::BIGINT AS n_merged_customers FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  UNION
  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
)
"""


def q_window_topk(spark: SparkSession, sf: str) -> DataFrame:
    """W1/W3/W6 per-group rank + reciprocal-rank score emission."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").alias("qid"),
            F.col("o_orderkey").alias("pid"),
            "rank",
            F.round(F.lit(1.0) / (F.col("rank") + 1), 6).alias("rr_score"),
        )
    )


SQL_WINDOW_TOPK = """
SELECT o_custkey AS qid, o_orderkey AS pid, rank,
       round(1.0/(rank+1), 6) AS rr_score
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_trec_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """K1 writer -> S4 reader round-trip, entirely in-plan: the top-k
    run (W1/W6) is formatted into 6-col TREC lines (F8,
    `BiEncoder/test.py:132`) and parsed back by the run-reader
    semantics (`BiEncoder/test.py:63-79`, split on space + typed
    casts) — scores come back DOUBLE, never the reference's
    lexicographic string sort (W2)."""
    run = q_window_topk(spark, sf)
    lines = run.select(
        F.format_string(
            "%d Q0 %d %d %.6f cel_spark",
            F.col("qid"),
            F.col("pid"),
            F.col("rank"),
            F.col("rr_score"),
        ).alias("line")
    )
    p = F.split(F.col("line"), " ")
    return lines.select(
        F.get(p, 0).cast("long").alias("qid"),
        F.get(p, 2).cast("long").alias("pid"),
        F.get(p, 3).cast("int").alias("rank"),
        F.get(p, 4).cast("double").alias("score"),
        F.get(p, 5).alias("tag"),
    )


SQL_TREC_ROUNDTRIP = f"""
WITH run AS ({SQL_WINDOW_TOPK}),
lines AS (
  SELECT printf('%d Q0 %d %d %.6f cel_spark',
                qid, pid, rank, rr_score::DOUBLE) AS line
  FROM run
),
parts AS (SELECT string_split(line, ' ') AS p FROM lines)
SELECT p[1]::BIGINT AS qid, p[3]::BIGINT AS pid, p[4]::INT AS rank,
       p[5]::DOUBLE AS score, p[6] AS tag
FROM parts
"""


def q_entity_annotations_json(spark: SparkSession, sf: str) -> DataFrame:
    """S3 annotation parsing: JSON annotation payloads are parsed with
    ``from_json`` against the typed annotation schema — never eval
    (the reference evals Python literals, `BiEncoder/train.py:73,:82`)
    — then projected with the title->spot coalesce (P3/F10,
    `BiEncoder/model.py:404`) and the rho threshold (P1,
    `utils/entity_extractor.py:32`). The oracle recomputes the typed
    values independently (no JSON), so the parse path is verified
    end-to-end."""
    from chameleon_entity_linking_spark.sources.ingest import ANNOTATION_SCHEMA

    docs = load(spark, sf, "documents")
    toks = _toks()
    spot = F.get(toks, 0)
    title = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("T:"), spot)
    ).otherwise(F.lit(None).cast("string"))
    rho = (F.col("doc_id") % 100).cast("double") / 100.0
    payload = F.to_json(
        F.array(
            F.struct(
                spot.alias("spot"),
                title.alias("title"),
                F.lit(0).alias("start"),
                F.length(spot).alias("end"),
                rho.alias("rho"),
                F.col("doc_id").alias("id"),
            )
        )
    )
    parsed = docs.where(F.size(toks) >= 1).select(
        "doc_id", F.from_json(payload, ANNOTATION_SCHEMA).alias("anns")
    )
    a = F.get(F.col("anns"), 0)
    return parsed.select(
        "doc_id",
        a["spot"].alias("spot"),
        F.coalesce(a["title"], a["spot"]).alias("label"),
        a["rho"].alias("rho"),
        (a["rho"] > 0.26).alias("kept"),
    )


SQL_ENTITY_ANNOTATIONS = f"""
SELECT doc_id,
       t[1] AS spot,
       CASE WHEN doc_id % 2 = 0 THEN 'T:' || t[1] ELSE t[1] END AS label,
       (doc_id % 100)::DOUBLE / 100.0 AS rho,
       (doc_id % 100)::DOUBLE / 100.0 > 0.26 AS kept
FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
WHERE len(t) >= 1
"""


def q_negative_cap(spark: SparkSession, sf: str) -> DataFrame:
    """P6 per-system negative cap (<=2 per (custkey, priority))."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_kept"))
    )


SQL_NEGATIVE_CAP = """
SELECT o_orderpriority, count(*)::BIGINT AS n_kept
FROM (
  SELECT o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
GROUP BY o_orderpriority
"""


def q_group_collect(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2 group-collect with deterministic ordering."""
    supplier = load(spark, sf, "supplier")
    return supplier.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias(
            "suppliers"
        ),
        F.count("*").alias("n_suppliers"),
    )


SQL_GROUP_COLLECT = """
SELECT s_nationkey,
       string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
       count(*)::BIGINT AS n_suppliers
FROM supplier GROUP BY s_nationkey
"""


def q_weighted_mix(spark: SparkSession, sf: str) -> DataFrame:
    """F5 weighted score mix (the reference's 0.9/0.1,
    BiEncoder/test.py:120) in exact cents."""
    li = load(spark, sf, "lineitem")
    mixed = 0.9 * F.col("l_extendedprice") + 0.1 * F.col("l_tax")
    return li.groupBy("l_returnflag").agg(
        F.sum(_cents(mixed)).alias("mix_cents"),
        F.count("*").alias("n"),
    )


SQL_WEIGHTED_MIX = """
SELECT l_returnflag,
       sum(round((0.9*l_extendedprice + 0.1*l_tax)*100,0)::BIGINT)::BIGINT AS mix_cents,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_events_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """T2 micro-batch/streaming-window analogue: 5-minute tumbling
    aggregation by event type (batch-equivalent of the streaming op)."""
    ev = load(spark, sf, "events")
    ts = F.col("ts").cast("timestamp")  # parquet yields TIMESTAMP_NTZ
    bucket = F.floor(F.unix_micros(ts) / F.lit(300_000_000)).alias("bucket")
    return ev.groupBy(bucket, "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(_cents(F.col("value"), 1000)).alias("value_millis"),
    )


SQL_EVENTS_TUMBLING = """
SELECT (epoch_us(ts) // 300000000)::BIGINT AS bucket, event_type,
       count(*)::BIGINT AS n_events,
       sum(round(value*1000,0)::BIGINT)::BIGINT AS value_millis
FROM events GROUP BY 1, 2
"""


def q_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap session counts per user (lag +
    cumulative new-session flags — the batch form of session_window)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp")  # parquet yields TIMESTAMP_NTZ
    gap = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_s = F.when(
        F.lag(ts).over(w).isNull() | (gap > 1_800_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_SESSIONIZATION = """
SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) GROUP BY user_id
"""

# --------------------------------------------------------------------------
# Text-analysis operators over `documents` (training-data pipeline ops)
# --------------------------------------------------------------------------

# Tiny stopword inventories for an n-gram/stopword-ratio language
# heuristic. Deliberately small + frozen: the point is deterministic,
# cheap language ID, not linguistic accuracy.
LANG_MARKERS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the of and to in is that it was for on are with as his they at be this".split()
    ),
    "de": frozenset(
        "der die das und ist nicht ein eine mit von zu im den des sich auf".split()
    ),
    "fr": frozenset(
        "le la les et des est une dans que pour pas sur avec ne son ce il".split()
    ),
    "es": frozenset(
        "el la los las y es una en que por no con para su se del al como".split()
    ),
}


def q_normalize_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """F7/P8/F1 tokenize + normalize + basic stats."""
    docs = load(spark, sf, "documents")
    toks = _toks()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.get(toks, 0).alias("first_token"),
        F.length("text").alias("n_chars_actual"),
    )


SQL_NORMALIZE_TOKENS = f"""
SELECT doc_id,
       len(t)::INT AS n_tokens,
       len(list_distinct(t))::INT AS n_distinct_tokens,
       t[1] AS first_token,
       length(text)::INT AS n_chars_actual
FROM (SELECT doc_id, text, {TOKS_SQL} AS t FROM documents)
"""


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: length/stopword/alpha ratios -> exact doubles."""
    docs = load(spark, sf, "documents")
    en = sorted(LANG_MARKERS["en"])
    toks = _toks()
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*en)))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, stop / n).otherwise(F.lit(0.0)).alias("stopword_ratio"),
        (alpha / F.greatest(F.length("text"), F.lit(1))).alias("alpha_ratio"),
        F.when(
            n > 0, F.least(n / F.lit(100.0), F.lit(1.0)) * (stop / n + 0.5)
        )
        .otherwise(F.lit(0.0))
        .alias("quality"),
    )


def _sql_quality() -> str:
    en = ", ".join(f"'{w}'" for w in sorted(LANG_MARKERS["en"]))
    return f"""
SELECT doc_id,
       len(t)::INT AS n_tokens,
       CASE WHEN len(t) > 0
            THEN len(list_filter(t, x -> x IN ({en}))) / len(t)
            ELSE 0.0 END AS stopword_ratio,
       length(regexp_replace(text, '[^a-z]', '', 'g'))
         / greatest(length(text), 1) AS alpha_ratio,
       CASE WHEN len(t) > 0
            THEN least(len(t)/100.0, 1.0)
                 * (len(list_filter(t, x -> x IN ({en})))/len(t) + 0.5)
            ELSE 0.0 END AS quality
FROM (SELECT doc_id, text, {TOKS_SQL} AS t FROM documents)
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker ratios + argmax with
    deterministic (score desc, lang asc) tie-break."""
    docs = load(spark, sf, "documents")
    toks = _toks()
    n = F.size(toks)
    scores = {}
    for lang in sorted(LANG_MARKERS):
        marks = sorted(LANG_MARKERS[lang])
        scores[lang] = (
            F.when(
                n > 0, F.size(F.filter(toks, lambda t: t.isin(*marks))) / n
            )
            .otherwise(F.lit(0.0))
            .alias(f"score_{lang}")
        )
    out = docs.select("doc_id", *scores.values())
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earliest alphabetical wins ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn(
        "predicted", F.when(best >= 0.05, pred).otherwise(F.lit("und"))
    )


def _sql_lang_id() -> str:
    langs = sorted(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        marks = ", ".join(f"'{w}'" for w in sorted(LANG_MARKERS[lang]))
        score_cols.append(
            f"CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> x IN ({marks})))/len(t) ELSE 0.0 END AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN score_{lang} = {best} THEN '{lang}' ELSE {pred} END"
    return f"""
SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
       CASE WHEN {best} >= 0.05 THEN {pred} ELSE 'und' END AS predicted
FROM (
  SELECT doc_id, {', '.join(score_cols)}
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
)
"""


def q_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces."""
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z]+"), 0)).alias(
            "n_word_pieces"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias(
            "n_number_pieces"
        ),
    )


SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       len({TOKS_SQL})::INT AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+'))::INT AS n_word_pieces,
       len(regexp_extract_all(text, '[0-9]+'))::INT AS n_number_pieces
FROM documents
"""


# winnowing parameters (Schleimer/Wilkerson/Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting"): k-gram size and the
# selection-window width. Guarantee: any shared substring of length
# >= FP_W + FP_K - 1 (23 chars) yields a shared fingerprint.
FP_K = 8
FP_W = 16


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-document winnowing fingerprint: every char-``FP_K``-gram
    is hashed; each sliding window of ``FP_W`` consecutive k-gram
    hashes selects its minimum; the distinct selected hashes are the
    document's fingerprint set (emitted as count + sorted join).

    Full text — no truncation (a near-dup whose divergence starts at
    char 65 still shares most fingerprints). Physical shape: the
    explode is O(total chars) rows — inherent to winnowing — and the
    per-window min is a doc_id-partitioned running window, so skew is
    bounded by the longest single document, not corpus size.
    """
    docs = load(spark, sf, "documents").select(
        "doc_id", F.col("text").alias("s")
    )
    # the O(total chars) explode + per-position md5 is the expensive
    # map; spread it off the 1-2 parquet scan splits first
    spark_ = docs.sparkSession
    docs = docs.repartition(spark_.sparkContext.defaultParallelism)
    n_grams = F.greatest(F.length("s") - (FP_K - 1), F.lit(1))
    hashes = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_grams)).alias("i"),
        "s",
    ).select(
        "doc_id",
        "i",
        F.substring(
            F.md5(F.substring("s", F.col("i"), FP_K).cast("binary")), 1, 8
        ).alias("h"),
        F.greatest(F.length("s") - (FP_K - 1), F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, FP_W - 1)
    )
    # frame minimum first, THEN keep only complete-window start
    # positions (short docs keep their single all-gram window)
    mins = (
        hashes.withColumn("wmin", F.min("h").over(w))
        .where(F.col("i") <= F.greatest(F.col("n") - (FP_W - 1), F.lit(1)))
        .select("doc_id", "wmin")
        .distinct()
    )
    return mins.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.array_join(F.array_sort(F.collect_list("wmin")), "-").alias(
            "fingerprint"
        ),
    )


SQL_FINGERPRINT = f"""
WITH h AS (
  SELECT doc_id, i,
         substr(md5(substr(s, i::INT, {FP_K})), 1, 8) AS h,
         greatest(length(s) - {FP_K - 1}, 1) AS n
  FROM (SELECT doc_id, text AS s FROM documents),
       LATERAL unnest(generate_series(1, greatest(length(s) - {FP_K - 1}, 1))) AS u(i)
),
m AS (
  SELECT doc_id, i, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {FP_W - 1} FOLLOWING) AS wmin
  FROM h
),
d AS (
  SELECT DISTINCT doc_id, wmin FROM m
  WHERE i <= greatest(n - {FP_W - 1}, 1)
)
SELECT doc_id, count(*)::BIGINT AS n_fingerprints,
       string_agg(wmin, '-' ORDER BY wmin) AS fingerprint
FROM d GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Deduplication family (exact, MinHash-LSH, SimHash, n-gram Jaccard)
# --------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """A6 exact dedup by content hash: group size + keeper id."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY 1
"""

# token 3-gram (sequence shingle) arrays: the blocking keys for pair
# generation; `i` 1-indexed in DuckDB lists, 0-indexed in Spark.
TRIGRAMS_SQL = (
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "for i in range(1, greatest(len(t)-1, 1))])"
)

# skew guard for the pair-generation queries (same ceiling on both the
# Spark side and the DuckDB oracle, so results stay exact): a blocking
# key shared by more docs than this is stopword-grade — it would emit
# O(n^2) junk pairs from one hot key (the same bound the ER pipeline's
# BlockConfig.max_key_docs applies, operators/block.py)
BLOCK_KEY_CAP = 64


def _trigrams_from(t):
    """Token-3-gram strings from an already-bound token-array column.

    MUST be fed a projected attribute (see ``_with_trigrams``), not
    the raw ``_toks()`` expression: ``t`` appears five times here, and
    Catalyst inlines a deterministic aliased expression into every
    reference — measured on this query, the regex tokenization ran ~5x
    per row before the eval-once guard was added.
    """
    return F.when(
        F.size(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(
                    " ", F.get(t, i), F.get(t, i + 1), F.get(t, i + 2)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _with_trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id STRING, tg ARRAY<STRING>): trigram arrays with the
    tokenization evaluated exactly once per row (eval-once guard from
    operators.score — the regex split is the expensive part and HOF
    consumers get no runtime CSE)."""
    from chameleon_entity_linking_spark.operators.score import _eval_once

    # documents.parquet is one compact file -> 1-2 scan splits, so the
    # tokenize+trigram+md5 map work otherwise runs on <= 2 cores
    # (measured at sf1.0: a 24s 2-task stage). One small shuffle of the
    # raw text buys full parallelism for the expensive map (guide §2.5
    # input-skew fix; same pattern as normalize/blocking_keys).
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _eval_once(_toks()).alias("t"),
    ).select("doc_id", _trigrams_from(F.col("t")).alias("tg"))


# DuckDB-reproducible 60-bit key hash (md5-prefix-to-BIGINT parity
# trick): blocking keys pass two shuffles, so they travel as 8-byte
# ints, not ~20-40B trigram strings. Both engines hash identically,
# so even a (P ~ n^2/2^61) collision yields identical results.
def _key_hash(col):
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10
    ).cast("long")


SQL_KEY_HASH = "('0x' || substr(md5({}), 1, 15))::BIGINT"


def q_trigram_blocking_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """J4/J5 blocking: docs sharing a token-3-gram key -> canonical
    candidate pairs with shared-key counts.

    Skew-guarded and self-join-free: keys are counted (map-side
    combinable), keys hotter than BLOCK_KEY_CAP are dropped
    (stopword-grade — one such key at 100x scale is a quadratic
    blow-up on a single hash bucket), and surviving keys expand pairs
    from a grouped member list (posexplode+slice) — the same physical
    shape as the ER pipeline's blocking stage (operators/block.py).
    Keys shuffle as 64-bit ints (``_key_hash``), and tokenization is
    eval-once-guarded (round-3 rewrite: 28s -> see BENCH_r03).
    """
    docs = load(spark, sf, "documents")
    keys = _with_trigrams(docs).select(
        "doc_id",
        F.explode(
            F.transform("tg", lambda s: _key_hash(s))
        ).alias("key"),
    )
    # two consumers (counts agg + grouping join) — materialize the
    # tokenize->trigram->hash stream once instead of deriving it per
    # consumer (the ER blocking stage persists for the same shape;
    # localCheckpoint here because registry queries return lazy DFs
    # the caller discards, and the checkpoint's storage is reclaimed
    # with the RDD by the context cleaner)
    keys = keys.localCheckpoint()
    counts = keys.groupBy("key").agg(F.count("*").alias("n_docs"))
    grouped = (
        keys.join(
            counts.where(
                (F.col("n_docs") >= 2) & (F.col("n_docs") <= BLOCK_KEY_CAP)
            ),
            "key",
        )
        .groupBy("key")
        .agg(F.collect_list("doc_id").alias("docs"))
    )
    exploded = grouped.select("docs", F.posexplode("docs").alias("i", "da"))
    pairs = exploded.select(
        "da",
        F.explode(
            F.slice("docs", F.col("i") + F.lit(2), F.size("docs") - F.col("i") - 1)
        ).alias("db"),
    )
    return (
        pairs.groupBy(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_keys"))
    )


SQL_TRIGRAM_PAIRS = f"""
WITH k AS (
  SELECT doc_id, {SQL_KEY_HASH.format('key')} AS key
  FROM (
    SELECT doc_id::VARCHAR AS doc_id, unnest({TRIGRAMS_SQL}) AS key
    FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
  )
),
kc AS (
  SELECT key FROM k GROUP BY key
  HAVING count(*) BETWEEN 2 AND {BLOCK_KEY_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared_keys
FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
JOIN kc ON kc.key = a.key
GROUP BY 1, 2
"""


def q_minhash_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (md5 family, J5 analogue): 8 per-seed mins
    over distinct tokens, as fixed-width hex strings."""
    docs = load(spark, sf, "documents")
    # spread the 8x-md5-per-token map work off the 1-2 parquet scan
    # splits (see _with_trigrams; the min-agg is map-side combined, so
    # the partials were computed on <= 2 cores before this)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_toks())).alias("tok")
    )
    aggs = [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")).cast("binary")),
                1,
                16,
            )
        ).alias(f"mh{i}")
        for i in range(8)
    ]
    return tok.groupBy("doc_id").agg(*aggs)


def _sql_minhash() -> str:
    cols = ", ".join(
        f"min(substr(md5('{i}:' || tok), 1, 16)) AS mh{i}" for i in range(8)
    )
    return f"""
SELECT doc_id, {cols}
FROM (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS tok FROM documents)
GROUP BY doc_id
"""


def q_minhash_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: 4 bands x 2 rows over the 8-hash
    signature; pairs sharing any band, with estimated Jaccard.

    Scale shape: the full signature rides through the band explode as
    a struct (no join back to the signature table — round 1 paid two
    extra shuffles for that); bands hotter than BLOCK_KEY_CAP are
    dropped (a degenerate corpus piles near-identical docs onto one
    band key -> O(n^2) pairs in one bucket); surviving bands expand
    pairs from a grouped member list, never a self-join.
    """
    # two consumers of the signature table (band counts + grouping)
    # AND a per-pair struct ride: without materialization the whole
    # tokenize -> 8x md5-min aggregation re-runs once per consumer
    # (measured at sf1.0: ~2x the query wall). localCheckpoint because
    # the registry returns lazy DFs the caller discards (same pattern
    # as q_trigram_blocking_pairs' keys table).
    sig = q_minhash_tokens(spark, sf).localCheckpoint()
    member = F.struct(
        F.col("doc_id"), *[F.col(f"mh{i}") for i in range(8)]
    )
    bands = sig.select(
        member.alias("m"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"b{i}:"),
                        F.col(f"mh{2 * i}"),
                        F.col(f"mh{2 * i + 1}"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    )
    counts = bands.groupBy("band").agg(F.count("*").alias("n_docs"))
    grouped = (
        bands.join(
            counts.where(
                (F.col("n_docs") >= 2) & (F.col("n_docs") <= BLOCK_KEY_CAP)
            ),
            "band",
        )
        .groupBy("band")
        .agg(F.collect_list("m").alias("ms"))
    )
    exploded = grouped.select("ms", F.posexplode("ms").alias("i", "ma"))
    pairs = exploded.select(
        "ma",
        F.explode(
            F.slice("ms", F.col("i") + F.lit(2), F.size("ms") - F.col("i") - 1)
        ).alias("mb"),
    )
    est = sum(
        F.when(F.col(f"ma.mh{i}") == F.col(f"mb.mh{i}"), 1).otherwise(0)
        for i in range(8)
    ) / F.lit(8.0)
    return (
        pairs.select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),  # symmetric -> order-independent
        )
        .where(F.col("est_jaccard") >= 0.5)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _sql_minhash_near_dup() -> str:
    band_exprs = ", ".join(
        f"'b{i}:' || mh{2 * i} || mh{2 * i + 1} AS band{i}" for i in range(4)
    )
    est = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH sig AS ({_sql_minhash()}),
bands AS (
  SELECT doc_id, unnest([band0, band1, band2, band3]) AS band
  FROM (SELECT doc_id, {band_exprs} FROM sig)
),
bc AS (
  SELECT band FROM bands GROUP BY band
  HAVING count(*) BETWEEN 2 AND {BLOCK_KEY_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
  JOIN bc ON bc.band = a.band
)
SELECT * FROM (
  SELECT doc_a, doc_b, ({est}) / 8.0 AS est_jaccard
  FROM pairs
  JOIN sig sa ON sa.doc_id = pairs.doc_a
  JOIN sig sb ON sb.doc_id = pairs.doc_b
) WHERE est_jaccard >= 0.5
"""


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash (32-bit) over distinct tokens: md5-derived bit votes.

    Physical shape (r6 rewrite, guide §2.4): pure per-doc JVM
    expressions — zero shuffles, zero explodes. The previous form
    exploded 32 rows per distinct token (~50M rows at sf1.0) through
    TWO hash aggregations; here the per-token md5 hashes are computed
    once into an array (eval-once guarded: 32 fold consumers would
    otherwise each re-inline the md5 transform), and each output bit
    is one bounded integer fold over that array. Identical result:
    bit b is set iff the vote sum s_b = 2*cnt_b - n > 0, i.e. iff
    strictly more than half the distinct tokens have bit b set; docs
    with no tokens emit no row (as the explode dropped them)."""
    from chameleon_entity_linking_spark.operators.score import _eval_once

    docs = load(spark, sf, "documents")
    # zero-shuffle query now, so parallelism = scan splits (1-2 on the
    # compact documents.parquet) — spread the md5+fold work first
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    hashes = F.transform(
        F.array_distinct(_toks()),
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10
        ).cast("long"),
    )
    with_h = docs.select("doc_id", _eval_once(hashes).alias("hs")).where(
        F.size("hs") > 0
    )

    def _cnt(b: int):
        # tokens with bit b set, via one interpreted fold (no array
        # allocation — F.filter+size would materialize a copy per bit)
        return F.aggregate(
            F.col("hs"),
            F.lit(0),
            lambda acc, h: acc
            + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int"),
        )

    n = F.size("hs")
    simhash = None
    for b in range(32):
        term = (
            F.when(_cnt(b) * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
        ).cast("long")
        simhash = term if simhash is None else simhash + term
    return with_h.select("doc_id", simhash.alias("simhash32"))


SQL_SIMHASH = f"""
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash32
FROM (
  SELECT doc_id, b, sum(vote)::BIGINT AS s
  FROM (
    SELECT doc_id, b,
           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS tok
            FROM documents)
    ), LATERAL unnest(generate_series(0, 31)) AS u(b)
  ) GROUP BY doc_id, b
) GROUP BY doc_id
"""


def q_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """G4 transitive clustering: edges = pairs sharing >= 3 trigram
    keys; large-star/small-star CC vs a recursive-CTE closure oracle."""
    from chameleon_entity_linking_spark.operators.cluster import (
        assign_clusters,
        connected_components,
    )

    edges = (
        q_trigram_blocking_pairs(spark, sf)
        .where(F.col("n_shared_keys") >= 3)
        .select("doc_a", "doc_b")
    )
    docs = load(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    return assign_clusters(docs, connected_components(edges))


SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_TRIGRAM_PAIRS}) WHERE n_shared_keys >= 3
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_id::VARCHAR, doc_id::VARCHAR FROM documents
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
"""


def q_khop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """G1 k-hop frontier BFS (graph.k_hop_expand): minimal hop
    distance from seed docs (doc_id < 3) over the same trigram-key
    edge set as `connected_components`, k = 3 — the distributed
    frontier-join reachability the reference realizes with in-memory
    BFS (`utils/entity_expander.py:80-103`). Oracle: bounded
    recursive-CTE BFS with min-hop selection."""
    from chameleon_entity_linking_spark.operators.graph import k_hop_expand

    pairs = q_trigram_blocking_pairs(spark, sf).where(
        F.col("n_shared_keys") >= 3
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # seeds = the 3 numerically-smallest LEFT endpoints of the edge
    # set, so the BFS genuinely expands (arbitrary fixed doc ids can
    # be isolated vertices at small scale factors)
    seeds = (
        pairs.select(F.col("doc_a").cast("long").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .select(F.col("d").cast("string").alias("node"))
    )
    out = k_hop_expand(edges, seeds, k=3)
    return out.select("node", F.col("hop").cast("int").alias("hop"))


SQL_KHOP_REACH = f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_TRIGRAM_PAIRS}) WHERE n_shared_keys >= 3
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
seeds AS (
  SELECT DISTINCT doc_a::BIGINT::VARCHAR AS node FROM pairs
  ORDER BY doc_a::BIGINT LIMIT 3
),
bfs AS (
  SELECT node, 0 AS hop FROM seeds
  UNION
  SELECT s.b, bfs.hop + 1 FROM bfs JOIN sym s ON s.a = bfs.node
  WHERE bfs.hop < 3
)
SELECT node, min(hop)::INT AS hop FROM bfs GROUP BY node
"""


def q_dfs_expand(spark: SparkSession, sf: str) -> DataFrame:
    """G2 count-bounded DFS expansion (graph.dfs_expand): the
    deterministic smallest-neighbor-first LIFO walk of
    `utils/entity_expander.py:80-90`, k=10 visited nodes per seed,
    over the same trigram-key edge set and 3-smallest-left-endpoint
    seeds as `khop_reach`. Distributed shape: per-seed k-hop ball via
    frontier joins, then one applyInPandas stack walk per seed.

    Oracle: the traversal ORDER is not SQL-expressible (it depends on
    a visited-set evolving with the walk), so the oracle is a pinned
    expected table — derived INDEPENDENTLY of the Spark operator by
    running the committed trigram-pairs SQL in DuckDB and a
    pure-Python reference walk (tools-side derivation), dispatched on
    the corpus key like the er_pipeline pins."""
    from chameleon_entity_linking_spark.operators.graph import dfs_expand

    pairs = q_trigram_blocking_pairs(spark, sf).where(
        F.col("n_shared_keys") >= 3
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    seeds = (
        pairs.select(F.col("doc_a").cast("long").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .select(F.col("d").cast("string").alias("node"))
    )
    out = dfs_expand(edges, seeds, k=10)
    return out.select(
        "seed", "node", F.col("visit_order").cast("int").alias("visit_order")
    )


# Pinned expected DFS orders per committed corpus (key = row count +
# total text chars, as the er_pipeline pins): derived via DuckDB
# (trigram-pairs SQL) + a pure-Python walk, independent of the Spark
# implementation under test.
SQL_DFS_EXPAND = """
WITH n AS (
  SELECT count(*)::VARCHAR || '-' || sum(length(text))::VARCHAR AS ck
  FROM documents
),
pins(ck, seed, node, visit_order) AS (VALUES
  ('500-153156', '0', '50', 1), ('500-153156', '0', '82', 2),
  ('500-153156', '1', '211', 1), ('500-153156', '1', '299', 2),
  ('500-153156', '1', '208', 3), ('500-153156', '1', '153', 4),
  ('500-153156', '1', '291', 5), ('500-153156', '1', '34', 6),
  ('500-153156', '1', '404', 7),
  ('500-153156', '10', '133', 1), ('500-153156', '10', '459', 2),
  ('500-153156', '10', '77', 3),
  ('500-149174', '4', '482', 1),
  ('500-149174', '11', '315', 1),
  ('500-149174', '12', '302', 1),
  ('5000-1485576', '2', '3024', 1), ('5000-1485576', '2', '2469', 2),
  ('5000-1485576', '2', '2547', 3), ('5000-1485576', '2', '215', 4),
  ('5000-1485576', '2', '3509', 5), ('5000-1485576', '2', '136', 6),
  ('5000-1485576', '2', '1514', 7), ('5000-1485576', '2', '148', 8),
  ('5000-1485576', '2', '1795', 9), ('5000-1485576', '2', '1089', 10),
  ('5000-1485576', '3', '1483', 1), ('5000-1485576', '3', '2140', 2),
  ('5000-1485576', '3', '1603', 3), ('5000-1485576', '3', '1458', 4),
  ('5000-1485576', '3', '2211', 5), ('5000-1485576', '3', '2351', 6),
  ('5000-1485576', '3', '2413', 7), ('5000-1485576', '3', '107', 8),
  ('5000-1485576', '3', '1125', 9), ('5000-1485576', '3', '1356', 10),
  ('5000-1485576', '4', '2089', 1), ('5000-1485576', '4', '1329', 2),
  ('5000-1485576', '4', '2008', 3), ('5000-1485576', '4', '2927', 4),
  ('5000-1485576', '4', '3670', 5), ('5000-1485576', '4', '2295', 6),
  ('5000-1485576', '4', '124', 7), ('5000-1485576', '4', '1140', 8),
  ('5000-1485576', '4', '2421', 9), ('5000-1485576', '4', '1386', 10)
)
SELECT seed, node, visit_order::INT AS visit_order
FROM pins JOIN n USING (ck)
"""


def q_expansion_dot(spark: SparkSession, sf: str) -> DataFrame:
    """G5 neighborhood visualization (graph.expansion_dot): one
    deterministic Graphviz DOT star per seed — the engine-surface
    re-expression of the reference's networkx/matplotlib notebook
    (`utils/visualize_expanded_entities.py:16-41`). Per-seed 2-hop
    balls (graph.k_hop_ball) rendered as the seed's 5 nearest
    expansion nodes by (hop, node). Pure string aggregation, fully
    SQL-expressible -> real DuckDB oracle."""
    from chameleon_entity_linking_spark.operators.graph import (
        expansion_dot,
        k_hop_ball,
    )

    pairs = q_trigram_blocking_pairs(spark, sf).where(
        F.col("n_shared_keys") >= 3
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    seeds = (
        pairs.select(F.col("doc_a").cast("long").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .select(F.col("d").cast("string").alias("node"))
    )
    return expansion_dot(k_hop_ball(edges, seeds, k=2), top_n=5)


SQL_EXPANSION_DOT = f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_TRIGRAM_PAIRS}) WHERE n_shared_keys >= 3
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
seeds AS (
  SELECT DISTINCT doc_a::BIGINT::VARCHAR AS node FROM pairs
  ORDER BY doc_a::BIGINT LIMIT 3
),
bfs AS (
  SELECT node AS seed, node, 0 AS hop FROM seeds
  UNION
  SELECT bfs.seed, s.b, bfs.hop + 1 FROM bfs JOIN sym s ON s.a = bfs.node
  WHERE bfs.hop < 2
),
ball AS (SELECT seed, node, min(hop) AS hop FROM bfs GROUP BY seed, node),
ranked AS (
  SELECT seed, node, hop,
         row_number() OVER (PARTITION BY seed ORDER BY hop, node) AS rn
  FROM ball WHERE hop >= 1
)
SELECT seed,
       'graph "' || seed || '" {{' || chr(10) ||
       string_agg('  "' || seed || '" -- "' || node || '";', chr(10)
                  ORDER BY hop, node) ||
       chr(10) || '}}' AS dot
FROM ranked WHERE rn <= 5
GROUP BY seed
"""


# --------------------------------------------------------------------------
# Similarity search over `embeddings` (ANN family)
# --------------------------------------------------------------------------


def _dot(a, b):
    """Ordered sequential fold -> bitwise-identical doubles in DuckDB."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, "
        f"[{a}[i]::DOUBLE * {b}[i]::DOUBLE for i in range(1, len({a})+1)]), "
        f"(x, y) -> x + y)"
    )


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5: query vecs (vec_id < 10) vs corpus
    (vec_id >= 10); the exact-rescoring baseline of the ANN family."""
    from chameleon_entity_linking_spark.operators.score import _eval_once

    emb = load(spark, sf, "embeddings")
    # norms hoisted to one fold per ROW (r6, guide §1.2): the previous
    # form evaluated sqrt(dot(v,v)) for both sides inside the per-PAIR
    # projection — 3 interpreted array folds per pair instead of 1.
    # _eval_once guards stop CollapseProject re-inlining the norm into
    # the post-join projection. Bitwise-identical: same folds, same
    # multiply order, just computed earlier.
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        _eval_once(
            F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        ).alias("qn"),
    )
    c = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        _eval_once(
            F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        ).alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = F.broadcast(q).crossJoin(c).select(
        "qid", "cid", F.round(cos, 6).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("qid", "cid", "cosine", "rank")
    )


SQL_COSINE_TOPK = f"""
SELECT qid, cid, cosine, rank FROM (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
  FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           round({_sql_dot('q.embedding', 'c.embedding')}
                 / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                    * sqrt({_sql_dot('c.embedding', 'c.embedding')})), 6) AS cosine
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 10 AND c.vec_id >= 10
  )
) WHERE rank <= 5
"""


def q_embedding_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN scale path: sign-bit bucket over the first 8
    dims -> bucket histogram (the shuffle-key layout of bucketed ANN)."""
    emb = load(spark, sf, "embeddings")
    bucket = F.concat(
        *[
            F.when(F.get("embedding", i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(8)
        ]
    )
    return emb.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


SQL_EMBEDDING_BUCKETS = """
SELECT bucket, count(*)::BIGINT AS n_vecs, min(vec_id) AS min_vec_id
FROM (
  SELECT vec_id,
         concat(
           CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END
         ) AS bucket
  FROM embeddings
) GROUP BY bucket
"""




def q_pair_string_scores(spark: SparkSession, sf: str) -> DataFrame:
    """B2 pairwise rerank scoring through the engine's *real* kernels:
    trigram-blocked pairs scored with the Arrow-batched Jaro-Winkler
    UDF and Spark's built-in ``levenshtein``, the two string kernels
    the ER pipeline uses, mixed 0.9/0.1-style — oracled against
    DuckDB's built-in string functions (independent implementations,
    exact match)."""
    from chameleon_entity_linking_spark.functions.strsim import (
        jaro_winkler_batch,
    )

    @F.pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(jaro_winkler_batch(a.tolist(), b.tolist()))

    docs = load(spark, sf, "documents")
    pairs = q_trigram_blocking_pairs(spark, sf).where(
        (F.col("doc_a").cast("long") < 150) & (F.col("doc_b").cast("long") < 150)
    )
    texts = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.substring("text", 1, 40).alias("head"),
    )
    ta = texts.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a"))
    tb = texts.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b"))
    joined = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = joined.select(
        "doc_a",
        "doc_b",
        jw("head_a", "head_b").alias("s_jw"),
        F.levenshtein("head_a", "head_b").cast("long").alias("lev_dist"),
    )
    return out.withColumn(
        "mixed",
        F.round(
            0.9 * F.col("s_jw") + 0.1 * (1 - F.col("lev_dist") / 40.0), 6
        ),
    ).withColumn("s_jw", F.round("s_jw", 6))


SQL_PAIR_STRING_SCORES = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_TRIGRAM_PAIRS})
  WHERE doc_a::BIGINT < 150 AND doc_b::BIGINT < 150
),
t AS (SELECT doc_id::VARCHAR AS doc_id, substr(text, 1, 40) AS head FROM documents)
SELECT doc_a, doc_b,
       round(jaro_winkler_similarity(ta.head, tb.head), 6) AS s_jw,
       levenshtein(ta.head, tb.head)::BIGINT AS lev_dist,
       round(0.9 * jaro_winkler_similarity(ta.head, tb.head)
             + 0.1 * (1 - levenshtein(ta.head, tb.head) / 40.0), 6) AS mixed
FROM pairs
JOIN t ta ON ta.doc_id = pairs.doc_a
JOIN t tb ON tb.doc_id = pairs.doc_b
"""


def q_limit_sample(spark: SparkSession, sf: str) -> DataFrame:
    """P4 early-stop limit (deterministic: ordered before limiting)."""
    orders = load(spark, sf, "orders")
    return (
        orders.orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


SQL_LIMIT_SAMPLE = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders ORDER BY o_orderkey LIMIT 100
"""



def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup via the bucketed scale path: sign-LSH
    bucket equi-join (shuffle on bucket, not a cross join), exact
    cosine rescoring inside buckets, pairs >= 0.3 kept (the synthetic
    embeddings' cluster structure puts same-label pairs well above it
    and cross-label pairs below; a production near-dup cut would sit
    ~0.9)."""
    emb = load(spark, sf, "embeddings")
    bucket = F.concat(
        *[
            F.when(F.get("embedding", i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(8)
        ]
    )
    b = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    lhs = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        "bucket",
    )
    rhs = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        "bucket",
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (
        F.sqrt(_dot(F.col("ea"), F.col("ea")))
        * F.sqrt(_dot(F.col("eb"), F.col("eb")))
    )
    return (
        lhs.join(rhs, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= 0.3)
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH b AS (
  SELECT vec_id, embedding,
         concat(
           CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END
         ) AS bucket
  FROM embeddings
)
SELECT id_a, id_b, cosine FROM (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         round({_sql_dot('x.embedding', 'y.embedding')}
               / (sqrt({_sql_dot('x.embedding', 'x.embedding')})
                  * sqrt({_sql_dot('y.embedding', 'y.embedding')})), 6) AS cosine
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
) WHERE cosine >= 0.3
"""


def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup keeper selection: within each exact-duplicate group
    (text hash), keep the highest-quality doc (quality-score ties
    broken by doc_id) — the canonical "which copy survives" step of a
    training-data dedup pass."""
    docs = load(spark, sf, "documents")
    en = sorted(LANG_MARKERS["en"])
    toks = _toks()
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin(*en)))
    quality = F.when(
        n > 0, F.least(n / F.lit(100.0), F.lit(1.0)) * (stop / n + 0.5)
    ).otherwise(F.lit(0.0))
    scored = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
        quality.alias("quality"),
    )
    w = Window.partitionBy("text_hash").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).select(
        "doc_id",
        "text_hash",
        F.round("quality", 6).alias("quality"),
        (F.col("rn") == 1).alias("keeper"),
    )


def _sql_dedup_keep_best() -> str:
    en = ", ".join(f"'{w}'" for w in sorted(LANG_MARKERS["en"]))
    return f"""
SELECT doc_id, text_hash, round(quality, 6) AS quality, rn = 1 AS keeper
FROM (
  SELECT doc_id, text_hash, quality,
         row_number() OVER (PARTITION BY text_hash
                            ORDER BY quality DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, md5(text) AS text_hash,
           CASE WHEN len(t) > 0
                THEN least(len(t)/100.0, 1.0)
                     * (len(list_filter(t, x -> x IN ({en})))/len(t) + 0.5)
                ELSE 0.0 END AS quality
    FROM (SELECT doc_id, text, {TOKS_SQL} AS t FROM documents)
  )
)
"""


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: vecs with vec_id < 10 act as coarse centroids;
    every corpus vec is assigned to its nearest centroid (cell), then
    top-3 per cell by centroid cosine. The cell assignment is the
    shuffle key of IVF search at scale — probing a query means
    scanning only its cell's partition, not the corpus."""
    emb = load(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    corpus = emb.where(F.col("vec_id") >= 10).select(
        "vec_id", F.col("embedding").alias("v")
    )
    cos = _dot(F.col("v"), F.col("cv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v")))
        * F.sqrt(_dot(F.col("cv"), F.col("cv")))
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", F.round(cos, 6).alias("cosine")
    )
    # cell assignment: nearest centroid, centroid-id tiebreak
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("cid")
    )
    assigned = scored.withColumn("arn", F.row_number().over(w_assign)).where(
        F.col("arn") == 1
    )
    # in-cell ranking: top-3 members per cell
    w_cell = Window.partitionBy("cid").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w_cell))
        .where(F.col("rank") <= 3)
        .select(
            F.col("cid").alias("cell"), "vec_id", "cosine", "rank"
        )
    )


SQL_ANN_IVF = f"""
WITH scored AS (
  SELECT c.vec_id, q.vec_id AS cid,
         round({_sql_dot('c.embedding', 'q.embedding')}
               / (sqrt({_sql_dot('c.embedding', 'c.embedding')})
                  * sqrt({_sql_dot('q.embedding', 'q.embedding')})), 6) AS cosine
  FROM embeddings c, embeddings q
  WHERE c.vec_id >= 10 AND q.vec_id < 10
),
assigned AS (
  SELECT vec_id, cid, cosine FROM (
    SELECT vec_id, cid, cosine,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, cid) AS arn
    FROM scored
  ) WHERE arn = 1
)
SELECT cell, vec_id, cosine, rank FROM (
  SELECT cid AS cell, vec_id, cosine,
         row_number() OVER (PARTITION BY cid
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM assigned
) WHERE rank <= 3
"""


def _ann_ivf_search(
    emb: DataFrame, nprobe: int = 2, topk: int = 3
) -> DataFrame:
    """IVF multi-probe search core (parameterized for tests).

    Index build: corpus vecs (vec_id >= 10) are assigned to their
    nearest centroid cell (centroids = vec_id < 10) — the shuffle-key
    layout of IVF at scale. Search: each query (corpus vecs with
    vec_id < 30) probes its ``nprobe`` nearest cells, exact-rescores
    against every member of the probed cells, and keeps the top
    ``topk`` by true cosine. nprobe=1 is the recall cliff the
    reference's exact search (`BiEncoder/test_retrieval.py:72-76`)
    never has: a neighbor just across a cell boundary is invisible;
    nprobe >= 2 recovers it (see test_ann_multiprobe_boundary).
    """
    cents = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    corpus = emb.where(F.col("vec_id") >= 10).select(
        "vec_id", F.col("embedding").alias("v")
    )
    cos_cent = _dot(F.col("v"), F.col("cv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v")))
        * F.sqrt(_dot(F.col("cv"), F.col("cv")))
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", F.round(cos_cent, 6).alias("ccos")
    )
    rnk = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    ranked = scored.withColumn("arn", F.row_number().over(rnk))
    # index: every corpus vec lives in exactly its nearest cell
    members = (
        ranked.where(F.col("arn") == 1)
        .select(F.col("vec_id").alias("mid"), "cid")
        .join(corpus.select(F.col("vec_id").alias("mid"), F.col("v").alias("mv")), "mid")
    )
    # search: queries probe their nprobe nearest cells
    probes = (
        ranked.where((F.col("vec_id") < 30) & (F.col("arn") <= nprobe))
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    qv = corpus.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cos_exact = _dot(F.col("qv"), F.col("mv")) / (
        F.sqrt(_dot(F.col("qv"), F.col("qv")))
        * F.sqrt(_dot(F.col("mv"), F.col("mv")))
    )
    cand = (
        probes.join(members, "cid")
        .where(F.col("mid") != F.col("qid"))
        .join(F.broadcast(qv), "qid")
        .select("qid", "mid", F.round(cos_exact, 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("mid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("qid", "mid", "cosine", "rank")
    )


def q_ann_ivf_probe2(spark: SparkSession, sf: str) -> DataFrame:
    """J5 dense ANN, multi-probe IVF form: nprobe=2 — each query
    searches its two nearest centroid cells with exact rescoring, so
    neighbors sitting just across its own cell's boundary are found
    (single-probe's recall cliff; the reference's IndexFlatL2 is
    exact and loses nothing at boundaries)."""
    return _ann_ivf_search(load(spark, sf, "embeddings"), nprobe=2, topk=3)


SQL_ANN_IVF_PROBE2 = f"""
WITH scored AS (
  SELECT c.vec_id, q.vec_id AS cid,
         round({_sql_dot('c.embedding', 'q.embedding')}
               / (sqrt({_sql_dot('c.embedding', 'c.embedding')})
                  * sqrt({_sql_dot('q.embedding', 'q.embedding')})), 6) AS ccos
  FROM embeddings c, embeddings q
  WHERE c.vec_id >= 10 AND q.vec_id < 10
),
ranked AS (
  SELECT vec_id, cid, ccos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid) AS arn
  FROM scored
),
members AS (
  SELECT r.vec_id AS mid, r.cid, e.embedding AS mv
  FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
  WHERE r.arn = 1
),
probes AS (
  SELECT vec_id AS qid, cid FROM ranked
  WHERE vec_id < 30 AND arn <= 2
),
cand AS (
  SELECT p.qid, m.mid,
         round({_sql_dot('q.embedding', 'm.mv')}
               / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                  * sqrt({_sql_dot('m.mv', 'm.mv')})), 6) AS cosine
  FROM probes p
  JOIN members m ON m.cid = p.cid AND m.mid <> p.qid
  JOIN embeddings q ON q.vec_id = p.qid
)
SELECT qid, mid, cosine, rank FROM (
  SELECT qid, mid, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, mid) AS rank
  FROM cand
) WHERE rank <= 3
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-3-gram Jaccard near-dup scoring on blocked pairs (the
    n-gram member of the dedup family); exact small-int ratios."""
    docs = load(spark, sf, "documents")
    # two join consumers (ga, gb) — materialize the trigram map once
    # (same lazy-registry rationale as the keys checkpoint above)
    grams = _with_trigrams(docs).withColumnRenamed("tg", "g").localCheckpoint()
    pairs = q_trigram_blocking_pairs(spark, sf).where(
        F.col("n_shared_keys") >= 2
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_shared_grams"),
            F.when(union == 0, F.lit(0.0))
            .otherwise(inter / union)
            .alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD = f"""
WITH g AS (
  SELECT doc_id::VARCHAR AS doc_id, {TRIGRAMS_SQL} AS grams
  FROM (SELECT doc_id, {TOKS_SQL} AS t FROM documents)
),
pairs AS (SELECT doc_a, doc_b FROM ({SQL_TRIGRAM_PAIRS}) WHERE n_shared_keys >= 2)
SELECT doc_a, doc_b,
       len(list_intersect(ga.grams, gb.grams))::INT AS n_shared_grams,
       CASE WHEN len(list_distinct(ga.grams || gb.grams)) = 0 THEN 0.0
            ELSE len(list_intersect(ga.grams, gb.grams))
                 / len(list_distinct(ga.grams || gb.grams)) END AS jaccard
FROM pairs
JOIN g ga ON ga.doc_id = pairs.doc_a
JOIN g gb ON gb.doc_id = pairs.doc_b
"""


# --------------------------------------------------------------------------
# Training surface (B4) — operators/train.py
# --------------------------------------------------------------------------


def q_training_triples(spark: SparkSession, sf: str) -> DataFrame:
    """B4 MarginMSE training-triple assembly (train.margin_mse_triples):
    per query (vec_id < 10) the cosine top-1 corpus vector is the
    positive, ranks 2-5 the hard negatives (num_negs_per_system=4,
    `BiEncoder/train.py:23`), labeled with the teacher margin
    (`BiEncoder/model.py:426-428`); capped at 36 triples to exercise
    the deterministic max_passages-style bound
    (`BiEncoder/train.py:21,98`)."""
    from chameleon_entity_linking_spark.operators.train import (
        margin_mse_triples,
    )

    emb = load(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    c = emb.where(F.col("vec_id") >= 10).select("vec_id", "embedding")
    return margin_mse_triples(q, c, num_negs=4, max_triples=36)


SQL_TRAINING_TRIPLES = f"""
WITH ranked AS (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
  FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           round({_sql_dot('q.embedding', 'c.embedding')}
                 / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                    * sqrt({_sql_dot('c.embedding', 'c.embedding')})), 6) AS cosine
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 10 AND c.vec_id >= 10
  )
)
SELECT p.qid, p.cid AS pos_id, n.cid AS neg_id,
       n.rank - 1 AS neg_rank,
       round(p.cosine - n.cosine, 6) AS margin
FROM ranked p JOIN ranked n USING (qid)
WHERE p.rank = 1 AND n.rank BETWEEN 2 AND 5
ORDER BY qid, neg_rank LIMIT 36
"""


def q_learned_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """B4 distributed trainer (train.fit_logistic_weights): fit the
    engine's learnable score-mix weights by full-batch logistic GD —
    one JVM aggregation job per iteration — on labeled embedding
    pairs (y = same `label`; features cosine + sign-agreement, the
    embedding terms of the rerank mix). Iterative => no SQL oracle
    (rows-only driver check); exact parity with an independent numpy
    trainer is asserted in tests/test_train.py."""
    from chameleon_entity_linking_spark.operators.train import (
        fit_logistic_weights,
    )

    emb = load(spark, sf, "embeddings").where(F.col("vec_id") < 60)
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("va"),
        F.col("label").alias("la"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("vb"),
        F.col("label").alias("lb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va")))
        * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    sign_agree = (
        F.aggregate(
            F.zip_with(
                "va",
                "vb",
                lambda x, y: F.when(x * y >= 0, F.lit(1.0)).otherwise(
                    F.lit(0.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("va")
    )
    pairs = (
        a.join(b, F.col("ida") < F.col("idb"))
        .select(
            cos.alias("s_cos"),
            sign_agree.alias("s_sign"),
            (F.col("la") == F.col("lb")).cast("int").alias("y"),
        )
    )
    weights, _hist = fit_logistic_weights(
        pairs, ["s_cos", "s_sign"], iters=30, lr=2.0
    )
    spark_df = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        "term string, weight double",
    )
    return spark_df


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

REGISTRY: dict = {
    "scan_filter_agg": (q_scan_filter_agg, SQL_SCAN_FILTER_AGG),
    "join_agg_nation_revenue": (q_join_agg_nation_revenue, SQL_JOIN_AGG),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "union_dedup": (q_union_dedup, SQL_UNION_DEDUP),
    "window_topk": (q_window_topk, SQL_WINDOW_TOPK),
    "trec_roundtrip": (q_trec_roundtrip, SQL_TREC_ROUNDTRIP),
    "entity_annotations_json": (q_entity_annotations_json, SQL_ENTITY_ANNOTATIONS),
    "negative_cap": (q_negative_cap, SQL_NEGATIVE_CAP),
    "group_collect": (q_group_collect, SQL_GROUP_COLLECT),
    "weighted_mix": (q_weighted_mix, SQL_WEIGHTED_MIX),
    "events_tumbling": (q_events_tumbling, SQL_EVENTS_TUMBLING),
    "sessionization": (q_sessionization, SQL_SESSIONIZATION),
    "normalize_tokens": (q_normalize_tokens, SQL_NORMALIZE_TOKENS),
    "quality_score": (q_quality_score, _sql_quality()),
    "lang_id": (q_lang_id, _sql_lang_id()),
    "token_count_bpe": (q_token_count_bpe, SQL_TOKEN_COUNT_BPE),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "trigram_blocking_pairs": (q_trigram_blocking_pairs, SQL_TRIGRAM_PAIRS),
    "minhash_tokens": (q_minhash_tokens, _sql_minhash()),
    "minhash_near_dup_pairs": (q_minhash_near_dup_pairs, _sql_minhash_near_dup()),
    "simhash": (q_simhash, SQL_SIMHASH),
    "connected_components": (q_connected_components, SQL_CONNECTED_COMPONENTS),
    "khop_reach": (q_khop_reach, SQL_KHOP_REACH),
    "dfs_expand": (q_dfs_expand, SQL_DFS_EXPAND),
    "expansion_dot": (q_expansion_dot, SQL_EXPANSION_DOT),
    "pair_string_scores": (q_pair_string_scores, SQL_PAIR_STRING_SCORES),
    "limit_sample": (q_limit_sample, SQL_LIMIT_SAMPLE),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "embedding_buckets": (q_embedding_buckets, SQL_EMBEDDING_BUCKETS),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "ann_ivf_probe2": (q_ann_ivf_probe2, SQL_ANN_IVF_PROBE2),
    "dedup_keep_best": (q_dedup_keep_best, _sql_dedup_keep_best()),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
    "training_triples": (q_training_triples, SQL_TRAINING_TRIPLES),
    # iterative GD: genuinely non-SQL-expressible; numpy-parity pytest
    "learned_mix_weights": (q_learned_mix_weights, None),
}
