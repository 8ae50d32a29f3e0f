"""Blocking stage: salted multi-key candidate-pair generation.

The analogue of the reference's candidate generation — BM25 run files
(`BiEncoder/test.py:63-79`) and FAISS top-k retrieval
(`BiEncoder/test_retrieval.py:51-76`). A global ANN index cannot
exist at 10^12 docs, so candidate generation becomes a
hash-partitioned pair expansion over three key families, each key an
int64 hash salted by its family tag:

  t  tokens of the *name* span (entity-name terms — the BM25-term
     analogue)
  l  MinHash-LSH band keys over char-3-shingles of the full
     normalized text (the dense-recall analogue)
  m  exact media content hashes (the exact entity-title key analogue,
     `BiEncoder/model.py:404`)

Physical shape (grouped expansion, not a self-join): a cheap
map-side-combined count pass classifies keys; surviving keys are
grouped into one bounded member array per key (filter-before-collect:
nothing ever buffers more than the ceiling) and intra-key pairs are
expanded JVM-side with posexplode+slice, streaming out of the
generator. A self-join would re-shuffle the key table against itself
and probe 2x the rows; grouped expansion pays one wide exchange
(reused by the join and the groupBy — same key partitioning).
(Round-1 measurement: the self-join formulation showed ~zero speedup
from 1 to 4 executors; this is its replacement.)

Skew discipline (north rule: explicit partitioning + skew splitting):
  * keys with one member generate no pairs -> dropped before expansion
  * keys with <= ``hot_key_cap`` members expand directly from the
    grouped row (<= C(cap,2) pairs per row — bounded task work)
  * hotter keys are re-exploded and *salted*: members get a
    deterministic salt group g in [0, s), s = ceil(n/cap), and the
    classic triangle-join replication — a member is LEFT in
    bucket-pairs (g, j>=g) and RIGHT in (i<=g, g) — generates every
    intra-key pair exactly once across buckets, each bucket bounded
    ~cap members per side, so no single task owns a hot key's O(n^2)
  * keys hotter than ``min(cap * max_salts, max_key_docs)`` are
    dropped and counted in metrics (stopword-grade keys; the
    reference's analogous bound is its top-1000 candidate truncation)

Every emitted pair is canonicalized doc_a < doc_b and deduplicated
across key families (SURVEY.md J8).

The count-then-filter-then-expand shape is the distributed form of
count/frequency filtering from the string-similarity-join literature
(e.g. "Scalable Similarity Joins of Tokenized Strings", ICDE'19 —
see PAPERS.md): key frequencies are cheap to aggregate, and pruning
on them bounds every downstream buffer and task.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.minhash import (
    band_hashes,
    minhash_fast_from_texts,
)


class BlockConfig:
    def __init__(
        self,
        lsh_hashes: int = 64,
        lsh_bands: int = 16,
        hot_key_cap: int = 64,
        max_salts: int = 16,
        # blocking-QUALITY bound, distinct from the skew bound: a key
        # shared by more docs than this is stopword-grade — it would
        # emit O(n^2) junk pairs that carry no match signal (recall is
        # preserved by the other key families). The volume analogue of
        # the reference's top-1000 candidate truncation. Measured at
        # 700k docs: keys with 65-256 members were 0.2% of non-single
        # keys but 36% of all raw pairs, and dropping them left
        # pairwise F1 unchanged (0.9995) — so the default bound sits
        # at 64; raise it (with hot_key_cap below it) to re-engage the
        # salted triangle path for recall-critical corpora.
        max_key_docs: int = 64,
        use_token_keys: bool = True,
        use_lsh_keys: bool = True,
        use_media_keys: bool = True,
        # LSH hash family: "fast" = packed-shingle splitmix64 (the hot
        # path, vectorized, no md5); "md5_tokens" = per-seed md5 mins
        # over distinct TOKENS with 2-row bands — slower, but exactly
        # reproducible in DuckDB SQL (min(substr(md5('i:'||tok),1,16)))
        # so a full blocking->scoring->clustering pipeline can be
        # oracle-checked end-to-end (see __spark_entry__'s
        # er_pipeline_clusters).
        lsh_family: str = "fast",
        # optional SECOND band family over the same fast-family
        # signature: fewer, LONGER bands (rows2 = lsh_hashes //
        # lsh2_bands > rows_per_band) — a high-PRECISION recall route
        # for documents whose every short-band bucket is
        # stopword-grade. A doc made entirely of corpus-common
        # shingles shares its 4-row bands with O(corpus) others (the
        # bucket hits the count ceiling and is dropped), but an 8-row
        # band collides only at J^8 — near-exact duplicates (J >= .9)
        # still meet, while the common-profile crowd scatters.
        # Measured on the sf0.1 driver corpus: dup-pair recall
        # 0.951 -> ~1.0 with lsh2_bands=8 at ceiling 2048. Signatures
        # are reused, so the extra cost is one more vectorized band
        # fold + lsh2_bands keys/doc. None disables (default);
        # fast family only.
        lsh2_bands: int | None = None,
        # per-family max_key_docs overrides, keyed by family tag
        # ("t" name tokens, "l" short LSH bands, "l2" long lsh2 bands,
        # "m" media). A key family's selectivity dictates how big a
        # bucket is still worth expanding: a 4-row band shared by
        # 1000+ docs is corpus-common noise (its true pairs also meet
        # in other families), while a 1000-member media-hash or 8-row
        # lsh2 bucket is near-certain duplication. One global ceiling
        # forces the worst family's bound on all of them — measured on
        # the sf0.1 flagship, raising the global ceiling to 2048 for
        # lsh2's benefit made the short-band junk buckets grind
        # through the salted triangle for a 3x stage cost. Families
        # not listed here use ``max_key_docs``; every family stays
        # bounded by ``hot_key_cap * max_salts``.
        family_ceilings: dict[str, int] | None = None,
    ):
        assert lsh_hashes % lsh_bands == 0
        self.lsh_hashes = lsh_hashes
        self.lsh_bands = lsh_bands
        self.rows_per_band = lsh_hashes // lsh_bands
        self.hot_key_cap = hot_key_cap
        self.max_salts = max_salts
        self.max_key_docs = max_key_docs
        self.use_token_keys = use_token_keys
        self.use_lsh_keys = use_lsh_keys
        self.use_media_keys = use_media_keys
        assert lsh_family in ("fast", "md5_tokens")
        self.lsh_family = lsh_family
        if lsh2_bands is not None:
            assert lsh_family == "fast", "lsh2 rides the fast signature"
            assert lsh_hashes % lsh2_bands == 0
        self.lsh2_bands = lsh2_bands
        if family_ceilings:
            assert set(family_ceilings) <= {"t", "l", "l2", "m"}, (
                f"unknown family tags: {set(family_ceilings)}"
            )
        self.family_ceilings = family_ceilings

    def fingerprint(self) -> dict:
        return dict(vars(self))

    def key_fingerprint(self) -> dict:
        """The fields that change WHICH keys a document emits — the
        committed blocking_keys table's identity. Cap/ceiling/salting
        knobs are deliberately left out: they shape the pair
        EXPANSION, not the keys, so retuning them resumes from the
        committed key table instead of re-deriving it (the whole point
        of committing keys at 10^12 docs)."""
        return {
            "lsh_hashes": self.lsh_hashes,
            "lsh_bands": self.lsh_bands,
            "rows_per_band": self.rows_per_band,
            "use_token_keys": self.use_token_keys,
            "use_lsh_keys": self.use_lsh_keys,
            "use_media_keys": self.use_media_keys,
            "lsh_family": self.lsh_family,
            "lsh2_bands": self.lsh2_bands,
        }


def _no_band_mask(tokens: pd.Series) -> list[bool]:
    """Shared no-bands rule for every LSH family: a token-less doc
    emits NO band keys. One predicate, derived from the tokens list
    itself — the three families used to spell it three ways (joined
    text truthiness / shingle-set truthiness / empty token list),
    which coincide today but could drift apart if tokenization or
    shingle handling ever changes (ADVICE r3)."""
    return [len(t) == 0 for t in tokens]


def _lsh_keys_udf(cfg: BlockConfig):
    if cfg.lsh_family == "md5_tokens":
        # oracle-parity family: band strings "b{i}:{mh_2i}{mh_2i+1}"
        # over per-seed md5 mins of distinct tokens — identical to the
        # DuckDB construction in the er_pipeline_clusters oracle.
        # Token-less docs emit NO bands (matches SQL, where unnest of
        # an empty token list produces no signature row).
        from chameleon_entity_linking_spark.functions.minhash import (
            minhash_md5,
        )

        @F.pandas_udf("array<string>")
        def lsh_keys_md5(tokens: pd.Series) -> pd.Series:
            out = []
            for toks, empty in zip(tokens, _no_band_mask(tokens)):
                toks = list(toks)
                if empty:
                    out.append([])
                    continue
                mh = minhash_md5(toks, n_hashes=cfg.lsh_hashes)
                out.append(
                    [
                        f"b{i}:" + "".join(
                            mh[i * cfg.rows_per_band : (i + 1) * cfg.rows_per_band]
                        )
                        for i in range(cfg.lsh_bands)
                    ]
                )
            return pd.Series(out)

        return lsh_keys_md5

    # Token-less docs (e.g. media-only) emit NO band keys in every
    # family (shared ``_no_band_mask``): the md5 family gets this for
    # free (unnest of an empty token list produces no signature row),
    # and the fast family must mirror it — hashing the all-max
    # sentinel signature would give every token-less doc the SAME band
    # keys, i.e. one giant junk blocking bucket. Media-only docs pair
    # via media keys.
    #
    # hot path: packed-shingle signatures + vectorized band folds —
    # no md5, no string building; keys leave the UDF as int64
    @F.pandas_udf("array<long>")
    def lsh_keys_fast(tokens: pd.Series) -> pd.Series:
        import numpy as np

        texts = [" ".join(t) for t in tokens]
        sigs = minhash_fast_from_texts(texts, n_hashes=cfg.lsh_hashes)
        bh = band_hashes(sigs, cfg.lsh_bands, cfg.rows_per_band)
        if cfg.lsh2_bands:
            # second, longer-band family over the SAME signature (see
            # BlockConfig.lsh2_bands); lane offset keeps families
            # key-disjoint
            bh = np.concatenate(
                [
                    bh,
                    band_hashes(
                        sigs,
                        cfg.lsh2_bands,
                        cfg.lsh_hashes // cfg.lsh2_bands,
                        lane_offset=cfg.lsh_bands,
                    ),
                ],
                axis=1,
            )
        return pd.Series(
            [
                [] if empty else keys.tolist()
                for keys, empty in zip(bh, _no_band_mask(tokens))
            ]
        )

    return lsh_keys_fast


def blocking_keys(doc_norm: DataFrame, cfg: BlockConfig) -> DataFrame:
    """(doc_id, key, fam) — one row per document per blocking key.

    Key type: always int64, family-salted — token/media keys are JVM
    ``xxhash64(family, value)`` (``'t'``/``'m'``), md5-family band
    keys ``xxhash64('l', band_string)``, and fast-family band keys are
    minted as int64 inside the UDF (a 64-bit collision, P ~ 1e-7 at
    millions of keys, just adds one junk candidate pair that scoring
    rejects). (doc_id, key) is unique by construction: token/media
    keys are array_distinct per doc, band keys carry their band lane,
    and families are salt/lane-disjoint.

    ``fam`` tags each key's family ("t"/"l"/"l2"/"m") so the pair
    expansion can apply per-family count ceilings
    (``cfg.family_ceilings``); it is one dictionary-encoded byte per
    row through the key shuffle.
    """
    if not (cfg.use_token_keys or cfg.use_lsh_keys or cfg.use_media_keys):
        raise ValueError(
            "BlockConfig: at least one key family must be enabled "
            "(use_token_keys / use_lsh_keys / use_media_keys)"
        )
    # the MinHash UDF is per-row CPU; parquet read splits of a compact
    # doc_norm table under-parallelize it (observed: flat scaling from
    # 8 to 32 cores) — spread rows explicitly before the Python stage
    spark = doc_norm.sparkSession
    doc_norm = doc_norm.repartition(spark.sparkContext.defaultParallelism)

    def _mk(family: str, value):
        return F.xxhash64(F.lit(family), value)

    parts = []
    if cfg.use_token_keys:
        from chameleon_entity_linking_spark.functions.tokenize import tokens_col

        name_tokens = F.array_distinct(tokens_col(F.col("name_text")))
        parts.append(
            doc_norm.select(
                "doc_id",
                F.explode(
                    F.transform(name_tokens, lambda t: _mk("t", t))
                ).alias("key"),
                F.lit("t").alias("fam"),
            )
        )
    if cfg.use_lsh_keys:
        if cfg.lsh_family == "md5_tokens":
            # the md5 family emits raw band strings; apply the family
            # hash here like any other key family
            parts.append(
                doc_norm.select(
                    "doc_id",
                    F.explode(_lsh_keys_udf(cfg)(F.col("tokens"))).alias(
                        "band"
                    ),
                ).select(
                    "doc_id",
                    _mk("l", F.col("band")).alias("key"),
                    F.lit("l").alias("fam"),
                )
            )
        else:
            # the fast family orders keys family-first — the
            # first lsh_bands positions are the short "l" bands, the
            # remainder the long "l2" bands — so the family tag falls
            # out of the key's POSITION, no extra payload from the UDF
            parts.append(
                doc_norm.select(
                    "doc_id",
                    F.posexplode(_lsh_keys_udf(cfg)(F.col("tokens"))).alias(
                        "pos", "key"
                    ),
                ).select(
                    "doc_id",
                    "key",
                    F.when(F.col("pos") < cfg.lsh_bands, "l")
                    .otherwise("l2")
                    .alias("fam"),
                )
            )
    if cfg.use_media_keys:
        parts.append(
            doc_norm.select(
                "doc_id",
                F.explode(
                    F.transform(F.col("media_refs"), lambda m: _mk("m", m))
                ).alias("key"),
                F.lit("m").alias("fam"),
            )
        )
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    return keys


def candidate_pairs(
    doc_norm: DataFrame,
    cfg: BlockConfig,
    score_cfg=None,
    persisted_out: list | None = None,
    keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Generate canonical candidate pairs + per-key metrics.

    Returns (pairs(doc_a, doc_b), key_metrics(key, fam, n_docs, class)).

    The sign sketch always rides the key table into the expansion.
    With ``score_cfg.sketch_fused`` (a ScoreConfig with cascade +
    prefilter), the scoring stage's sketch prefilter runs on that RAW
    pair stream — the hamming cut runs in the expansion stage — BEFORE
    the pair dedup shuffle. Measured at 193k docs: ~89% of raw
    candidates die at the sketch, so the dedup shuffle and the pairs
    snapshot shrink ~9x. The pairs then carry ``s_cos`` and scoring
    skips the prefilter. Unfused, the sketch columns are projected
    away before the dedup and score_pairs prefilters instead. Final
    edges are identical with or without fusion.

    Intermediates are ``persist()``-ed (multiple passes consume them).
    Pass ``persisted_out`` (a list) to receive the cached DataFrames
    for ``unpersist()`` once outputs are materialized (long-lived
    sessions would otherwise accumulate cached blocks).

    ``keys`` optionally supplies an already-materialized (e.g.
    catalog-committed) blocking-key table for ``doc_norm`` — the
    production pipeline commits keys as a first-class snapshot and
    passes them here, so neither the batch re-run nor the incremental
    path ever re-derives keys for committed docs (at 10^12 docs the
    derivation is a full corpus pass through the MinHash UDF).
    """
    if keys is None:
        # (doc_id, key) unique by construction (see blocking_keys), so
        # no dedup shuffle is spent on the key table and count(*) ==
        # members. Two consumers (counts pass + grouping pass) —
        # persist so the MinHash UDF runs once, not once per consumer.
        keys = blocking_keys(doc_norm, cfg).persist()
        if persisted_out is not None:
            persisted_out.append(keys)
    # phase-0 sketch on the key table (r6, guide §8 "shuffle keys and
    # metadata instead of payloads", inverted): the 9-byte (sig,
    # mediaonly) sketch rides the SMALL key table into the grouped
    # member lists, so the expansion emits pairs already carrying both
    # sides' sketches and the hamming cut fuses into the explode stage
    # itself — no joins over the tens-of-millions raw pair stream
    # (measured at sf1.0: 67M raw pairs from 1.5M key rows).
    from chameleon_entity_linking_spark.operators.score import (
        sign_sketch,
        sketch_prefilter,
    )

    raw, key_metrics = expand_key_pairs(
        keys, cfg, persisted_out, sketch=sign_sketch(doc_norm)
    )
    if score_cfg is not None and score_cfg.sketch_fused:
        raw = sketch_prefilter(raw, doc_norm, score_cfg)
    else:
        raw = raw.select("doc_a", "doc_b")
    pairs = raw.dropDuplicates(["doc_a", "doc_b"])
    return pairs, key_metrics


def expand_key_pairs(
    keys: DataFrame,
    cfg: BlockConfig,
    persisted_out: list | None = None,
    *,
    sketch: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, key, fam) -> (raw canonical pairs, key_metrics).

    The count-classified grouped expansion + salted-triangle core of
    :func:`candidate_pairs`, factored out so the cross-run incremental
    path (operators/incremental_er.py) can run the identical skew
    discipline over a restricted key table. Output pairs are
    canonical (doc_a < doc_b) but NOT deduplicated across keys —
    callers dedup after any fused prefilter. ``keys`` has the
    :func:`blocking_keys` schema: int64 ``key`` and its ``fam``
    family tag, which selects the per-family count ceiling when
    ``cfg.family_ceilings`` is set.

    ``sketch``: the (doc_id, sig:long, mo:boolean) per-doc table of
    score.sign_sketch, covering every doc in ``keys``. Members group
    as (doc_id, sig, mo) structs, so the output pairs carry
    (doc_a, doc_b, sig_a, sig_b, mediaonly_a, mediaonly_b) and
    score.sketch_prefilter's phase-0 hamming cut runs inline in the
    expansion stage.
    """
    spark = keys.sparkSession
    cap = cfg.hot_key_cap
    skew_bound = cap * cfg.max_salts
    ceiling = min(skew_bound, cfg.max_key_docs)
    # per-key ceiling: family-tag lookup (cfg.family_ceilings), every
    # family bounded by the skew bound; unlisted -> global.
    # A constant-vs-column comparison either way — free in codegen.
    if cfg.family_ceilings:
        ceil_col = F.coalesce(
            *[
                F.when(F.col("fam") == f, F.lit(min(skew_bound, v)))
                for f, v in sorted(cfg.family_ceilings.items())
            ],
            F.lit(ceiling),
        )
    else:
        ceil_col = F.lit(ceiling)
    # pass 1: per-key member counts. Fully map-side combinable — the
    # shuffled bytes are one (key, partial_count) per distinct key per
    # map partition, not the key table itself. fam is constant per key
    # (families are salt/prefix-disjoint), so grouping by both changes
    # nothing but carries the tag through.
    counts = (
        keys.groupBy("key", "fam").agg(F.count("*").alias("n_docs")).persist()
    )
    if persisted_out is not None:
        persisted_out.append(counts)
    # ceiling check FIRST: a family ceiling below hot_key_cap is a
    # legal config (drop-above-64, never salt), and the expansion
    # filter below honors ceil_col unconditionally — classifying
    # "normal" by cap first would report keys as expanded that the
    # filter silently dropped (metrics must match the pair stream)
    key_metrics = counts.select(
        "key",
        "fam",
        "n_docs",
        F.when(F.col("n_docs") < 2, "singleton")
        .when(F.col("n_docs") > ceil_col, "dropped")
        .when(F.col("n_docs") <= cap, "normal")
        .otherwise("salted")
        .alias("class"),
    )
    # pass 2: filter BEFORE collecting, so no aggregation buffer ever
    # holds more than `ceiling` members — a stopword-grade key (10^8+
    # members at 10^12 docs) is dropped without ever materializing its
    # member list anywhere. The join and the groupBy hash-partition on
    # the same key, so Catalyst reuses one exchange for both.
    # persisted: the normal-expansion branch and the hot triangle
    # branch both read it within one action — InMemoryRelation makes
    # Spark compute it once instead of once per branch (measured: the
    # un-persisted form recomputed the join+groupBy per branch, 2x the
    # pairs-write time).
    # repartition before persist: the grouped table is BYTES-small but
    # each row expands to C(n_docs, 2) pairs downstream — AQE coalesces
    # the agg output by bytes (it cannot see the 20-30x explode
    # multiplier), which concentrated the whole expansion on 1-2 tasks
    # (measured: one 43s CPU straggler vs a 3s median). A round-robin
    # spread of the small grouped rows balances expansion work
    # statistically across the cluster.
    # bucket-level dedup BEFORE expansion: correlated key families
    # (e.g. a duplicate group colliding on every band of two LSH
    # families + a media key) produce many keys with the IDENTICAL
    # member set — expanding each would emit the same C(n,2) pairs
    # once per key, multiplying the dominant stage's volume by the
    # key multiplicity (measured on the sf0.1 driver corpus: ~2x
    # wall on the flagship config). One dropDuplicates on the sorted
    # member array collapses them; the final pair output is identical
    # (cross-key pair dedup happens downstream anyway), this just
    # stops computing it in multiplicate. The shuffle is of the
    # SMALL grouped table (rows bounded by the ceiling).
    # member column: a (doc_id, sig, mo) struct, so the sketch rides
    # the expansion. array_sort on the struct orders by doc_id first
    # (sig/mo are FUNCTIONS of doc_id), so the member arrays sort and
    # bucket-dedup exactly as bare doc_ids would.
    member_keys = keys.select("doc_id", "key").join(sketch, "doc_id").select(
        F.struct("doc_id", "sig", "mo").alias("doc_id"), "key"
    )
    grouped = (
        member_keys
        .join(
            counts.where(
                (F.col("n_docs") >= 2) & (F.col("n_docs") <= ceil_col)
            ).select("key"),
            "key",
        )
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .dropDuplicates(["docs"])
        .withColumn("n_docs", F.size("docs"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(grouped)

    # canonicalize on the ids; each side's sketch follows its doc
    def _canonical(da, db):
        a_first = da["doc_id"] < db["doc_id"]
        lo = F.when(a_first, da).otherwise(db)
        hi = F.when(a_first, db).otherwise(da)
        return [
            lo["doc_id"].alias("doc_a"),
            hi["doc_id"].alias("doc_b"),
            lo["sig"].alias("sig_a"),
            hi["sig"].alias("sig_b"),
            lo["mo"].alias("mediaonly_a"),
            hi["mo"].alias("mediaonly_b"),
        ]

    # -- normal keys: bounded JVM-side pair expansion, no self-join -------
    small = grouped.where(F.col("n_docs") <= cap)
    exploded = small.select(
        "docs", F.posexplode("docs").alias("i", "da")
    )
    pairs_normal = exploded.select(
        "da",
        F.explode(
            F.slice(
                "docs", F.col("i") + F.lit(2), F.size("docs") - F.col("i") - 1
            )
        ).alias("db"),
    ).select(*_canonical(F.col("da"), F.col("db")))

    # -- hot keys: salted triangle join (skew splitting) ------------------
    hot = (
        grouped.where(F.col("n_docs") > cap)  # grouped is <= ceiling already
        .select("key", "n_docs", F.explode("docs").alias("doc_id"))
        .withColumn("s", F.ceil(F.col("n_docs") / cap).cast("int"))
        .withColumn(
            "g",
            F.pmod(
                F.xxhash64(F.col("doc_id")["doc_id"], F.col("key")), F.col("s")
            ).cast("int"),
        )
    )
    hot_left = hot.select(
        "key",
        F.col("g").alias("bi"),
        F.explode(F.sequence(F.col("g"), F.col("s") - 1)).alias("bj"),
        F.col("doc_id").alias("da"),
    )
    hot_right = hot.select(
        "key",
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("bi"),
        F.col("g").alias("bj"),
        F.col("doc_id").alias("db"),
    )
    # explicit partitioning on the triangle join: its INPUTS are
    # bytes-small (AQE would coalesce them to ~1 partition) but its
    # OUTPUT is the multiplied hot-key pair volume — a user-specified
    # column repartition pins the join to full parallelism (AQE never
    # coalesces explicit repartitions), with no extra exchange: the
    # join reuses it, the right side aligns to it. (Measured before
    # the fix: one 42s-CPU straggler task owned the whole hot branch.)
    par = spark.sparkContext.defaultParallelism
    # diagonal buckets (bi == bj) hold BOTH orientations of every
    # same-salt-group pair (each member appears as left and right), so
    # require da < db there — without it each within-group pair rides
    # the prefilter/dedup shuffles twice (~1.5x hot-branch volume at
    # n ~= cap+1). Cross buckets (bi < bj) see one orientation only.
    pairs_hot = (
        hot_left.repartition(par, "key", "bi", "bj")
        .join(hot_right, ["key", "bi", "bj"])
        .where(
            (F.col("bi") != F.col("bj"))
            | (F.col("da")["doc_id"] < F.col("db")["doc_id"])
        )
        .where(F.col("da")["doc_id"] != F.col("db")["doc_id"])
        .select(*_canonical(F.col("da"), F.col("db")))
    )

    return pairs_normal.unionByName(pairs_hot), key_metrics
