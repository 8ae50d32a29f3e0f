"""The frozen driver contract: the ``queries()`` keys and the
``oracle_sql()`` texts change only by addition, never in place.

Spark-free: building the two dicts needs no session. The digest is
over the sorted-key JSON of every oracle text, so a one-byte change to
any text (or to ``LANG_MARKERS``, which generates the lang-id and
quality oracles) fails here.
"""

import hashlib
import json

import __spark_entry__ as entry

QUERY_KEYS = [
    "ann_ivf",
    "ann_ivf_probe2",
    "anti_join",
    "connected_components",
    "cosine_topk",
    "dedup_keep_best",
    "dfs_expand",
    "embedding_buckets",
    "embedding_near_dup",
    "entity_annotations_json",
    "er_pipeline_clusters",
    "er_pipeline_f1",
    "er_pipeline_full",
    "er_pipeline_size_hist",
    "er_pipeline_x10_hist",
    "events_tumbling",
    "exact_dedup",
    "expansion_dot",
    "fingerprint",
    "group_collect",
    "incremental_er_clusters",
    "incremental_er_drift",
    "join_agg_nation_revenue",
    "khop_reach",
    "lang_id",
    "learned_mix_weights",
    "limit_sample",
    "minhash_near_dup_pairs",
    "minhash_tokens",
    "negative_cap",
    "ngram_jaccard_pairs",
    "normalize_tokens",
    "pair_string_scores",
    "quality_score",
    "scan_filter_agg",
    "semi_join",
    "sessionization",
    "simhash",
    "token_count_bpe",
    "training_triples",
    "trec_roundtrip",
    "trigram_blocking_pairs",
    "union_dedup",
    "weighted_mix",
    "window_topk",
]

ORACLE_DIGEST = "e8b3baaaee58983d3a115f7d64caefd837aeaa615274834ed5d2d87f91cd3e43"


def test_query_keys_frozen():
    assert sorted(entry.queries()) == QUERY_KEYS


def test_oracle_sql_digest_frozen():
    blob = json.dumps(entry.oracle_sql(), sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_DIGEST
