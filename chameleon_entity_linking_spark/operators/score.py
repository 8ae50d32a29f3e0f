"""Scoring stage: lossless JVM cascade -> batched pairwise scoring.

The rerank analogue (`BiEncoder/test.py:111-120`,
`CrossEncoder/test.py:98-100`): candidate pairs are joined to both
documents' features and scored, then the reference's weighted mix is
applied — ``0.9 * text + 0.1 * entity`` (`BiEncoder/test.py:120`),
where the text score blends Jaro-Winkler + Levenshtein-ratio on the
name span, token Jaccard, and embedding cosine, and the entity score
is exact media_ref Jaccard (the entity-title analogue).

**Cascade (the scale-critical part).** Multi-key blocking at high
fan-out emits ~100 candidates/doc, ~98% junk. Scoring is therefore a
three-phase cascade, each phase shuffling less data than it rules out:

1. **Sketch prefilter (compact shuffle).** A 64-bit sign sketch +
   media-only flag per doc rides the key table into pair generation,
   so a hamming cut drops most raw pairs inside the expansion stage;
   only the survivors join the int8-quantized embedding ``emb_q``
   (64B) per side — NOT the full feature row. Estimated cosine (int8
   dot, error <= ~0.02 for unit vectors) below
   ``prefilter_min_cheap``, with no media-only side, cannot survive
   the later phases -> dropped. Measured effect: the wide-feature
   shuffle shrinks from ~30GB to ~2GB at 18M pairs.
2. **Exact cheap components (JVM, survivors only).** Full features
   join the (small) survivor set; token/media Jaccard + the int8
   cosine the prefilter already computed apply the *lossless* upper
   bound
   ``upper = w_text*(w_jw + w_lev + w_tok*s_tok + w_cos*s_cos)
   [+ w_media*s_media]`` — a pair with ``upper < threshold`` cannot
   clear the final threshold whatever JW/Levenshtein say.
3. **Rerank (final survivors).** Arrow-batched Jaro-Winkler on name
   spans (the one Python string kernel), a JW-refined bound, then
   Spark's built-in ``levenshtein`` ratio in the JVM, weighted mix,
   threshold.

Same retrieve-then-rerank shape as the reference
(`BiEncoder/test_retrieval.py` recall stage -> `BiEncoder/test.py`
rerank), with each hop bounded by the previous one.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.strsim import jaro_winkler_batch


# cap on name-span chars entering the O(n^2) string kernels — bounds
# per-pair cost (the truncation analogue of the reference's
# max_length=512 tokenizer cap, BiEncoder/model.py:46-47)
MAX_NAME_CHARS = 100


class ScoreConfig:
    def __init__(
        self,
        w_jw: float = 0.35,
        w_lev: float = 0.25,
        w_tok: float = 0.2,
        w_cos: float = 0.2,
        w_text: float = 0.9,
        w_media: float = 0.1,
        # calibrated on the synthetic fixture (cluster-level F1 sweep;
        # the pinned-threshold analogue of the reference's rho=0.26,
        # utils/entity_extractor.py:10): transitive closure recovers
        # borderline true pairs, so a precision-leaning cut wins
        threshold: float = 0.62,
        # lossless-cascade switch (off only for diagnostics: scores of
        # pruned pairs are never needed — they cannot clear threshold)
        cascade: bool = True,
        # calibrated lossy prefilter on embedding cosine: pairs below
        # it (and without media on either side) skip the expensive
        # rerank. Cosine-based so the int8 sketch phase can bound it
        # with a fixed quantization margin. The bounded-candidates
        # tradeoff of the reference's top-1000 truncation — pinned
        # here, guarded by the F1 >= 0.99 gate in tests. None disables.
        # (Recalibrated twice in round 4 for the vectorized encoder's
        # cosine distribution: the r2-era 0.30 passed +8% junk; the
        # calibration sweep at 100k entities found the edge set and
        # cluster F1 flat all the way to 0.50 — pinned one notch
        # conservative at 0.45: surviving pairs 1.42M -> 0.65M,
        # edges within 0.01%, F1 identical 0.99953.)
        prefilter_min_cheap: float | None = 0.45,
        # phase-0 sign-sketch cut: pairs whose 64-bit embedding sign
        # sketches differ in more than this many bits (and with no
        # media-only side) drop before the int8 dot ever runs — one
        # XOR + popcount per pair on two longs, vs a 64-element array
        # walk. E[hamming] = 64*theta/pi for random projections, so
        # cos >= 0.45 (theta <= 63.3 deg) concentrates below ~11.2
        # bits (sigma ~3.1); the default cut sits ~3 sigma above.
        # Lossy like the cosine cut (a true pair CAN straddle it) —
        # calibrated with the sweep above, guarded by the same F1
        # gate. None disables phase 0 (the dot sees every raw pair).
        prefilter_max_hamming: int | None = 21,
    ):
        self.w_jw = w_jw
        self.w_lev = w_lev
        self.w_tok = w_tok
        self.w_cos = w_cos
        self.w_text = w_text
        self.w_media = w_media
        self.threshold = threshold
        self.cascade = cascade
        self.prefilter_min_cheap = prefilter_min_cheap
        self.prefilter_max_hamming = prefilter_max_hamming

    @property
    def sketch_fused(self) -> bool:
        """True iff the sketch prefilter cut runs inside pair
        generation (block.candidate_pairs, incremental_candidate_pairs),
        so the emitted pairs carry ``s_cos`` — which is how score_pairs
        knows the prefilter ran. Otherwise score_pairs runs it."""
        return self.cascade and self.prefilter_min_cheap is not None

    def fingerprint(self) -> dict:
        return dict(vars(self))


def _make_jw_udf():
    # built lazily: pandas_udf parses its DDL against the active session
    @F.pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(jaro_winkler_batch(a.tolist(), b.tolist()))

    return jw_udf


def _features(doc_norm: DataFrame, side: str) -> DataFrame:
    # hashed token/media sets (not the strings): the per-pair set
    # intersections run on int64 (2.4x cheaper, measured) and the
    # feature row is narrower through the pair join. emb_q (64B int8),
    # not the float embedding: cosine is computed in int8 throughout
    # scoring (error <= ~0.02; the pinned threshold is calibrated with
    # it, F1-gate-guarded) so the widest feature never joins the pair
    # stream. Names are not here: they join the cheap-phase survivors
    # only (_name_features).
    return doc_norm.select(
        F.col("doc_id").alias(f"doc_{side}"),
        F.col("tokens_h").alias(f"tokens_{side}"),
        F.col("media_h").alias(f"media_{side}"),
        F.col("emb_q").alias(f"q_{side}"),
    )


def _name_features(doc_norm: DataFrame, side: str) -> DataFrame:
    """(doc_{side}, name_{side}) only — joined to cheap-phase
    SURVIVORS, so the 100-char names never ride the full pair stream
    (r6, guide §2.3: the cheap phase decides on set/sketch features
    alone; measured at sf1.0 the names were ~40% of the bytes flowing
    through the 22.5M-pair cheap projection). Names truncate here,
    before the join: the string kernels cap at MAX_NAME_CHARS anyway."""
    name = F.substring(F.col("name_text"), 1, MAX_NAME_CHARS)
    return doc_norm.select(
        F.col("doc_id").alias(f"doc_{side}"), name.alias(f"name_{side}")
    )


def _jaccard_from_counts(inter, n_a, n_b):
    """Jaccard from an intersect count + per-side DISTINCT sizes:
    |union| = |a| + |b| - |inter| (normalize() array_distincts both
    sides), so the expensive array_union allocation+hash is
    eliminated outright (r6; it was ~half the cheap-phase jaccard
    cost). ``inter`` must be a bound ATTRIBUTE (projected in a prior
    select), not a raw expression — a Column expression referenced
    twice is cloned into the tree and evaluated twice per row. Same
    integers -> same double as the array_union form (union == 0
    implies inter == 0 -> 0.0)."""
    return inter / F.greatest(n_a + n_b - inter, F.lit(1))


def _eval_once(expr):
    """Evaluate-once guard for an expensive aliased expression.

    Catalyst's PushDownPredicate/CollapseProject INLINE a projected
    alias into every consumer (a later filter + the output + each
    score term), and interpreted expressions (higher-order functions,
    array set ops) get no runtime subexpression elimination — measured
    on this pipeline: the jaccard appeared 20x in one optimized plan
    and the exact phase burned ~200us/pair. Wrapping the expression as
    ``shuffle(array(x))[0]`` preserves its value exactly (shuffling a
    1-element array is the identity) but marks it NON-DETERMINISTIC,
    which Catalyst refuses to substitute into predicates or duplicate
    across projections — so the column is computed exactly once and
    every consumer reads the stored value.
    """
    return F.get(F.shuffle(F.array(expr)), 0)


def _int8_dot_udf():
    """Arrow-batched int8 dot (guide §4.2): whole batches of emb_q
    sketch pairs hand to one ``np.einsum`` per batch — exact integer
    arithmetic (int32 accumulators, max |sum| = 64 * 127^2), then a
    /127^2 division, so the cosine estimate is BIT-IDENTICAL to an
    interpreted JVM ``zip_with``/``aggregate`` fold (the parity
    reference in tests/test_score.py). Marked non-deterministic so the
    optimizer never duplicates the Python stage below a filter
    consuming its output (guide §4.4) — the value is deterministic.

    Precondition: both inputs are non-null ``emb_q`` arrays of one
    fixed dimension across the whole column, which normalize() always
    emits. Nothing checks it here: a null or ragged array makes
    ``np.stack`` raise and aborts the task.
    """
    import numpy as np

    @F.pandas_udf("double")
    def int8_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        av = np.stack(a.values).astype(np.int32)
        bv = np.stack(b.values).astype(np.int32)
        return pd.Series(np.einsum("ij,ij->i", av, bv) / (127.0 * 127.0))

    return int8_dot.asNondeterministic()


def _mediaonly():
    """THE media-only predicate: a text-free media doc is the one
    case where a pair can match with no lexical signal at all (judged
    purely on media). Single definition — phase 0, phase 1, and any
    future exemption must agree or pairs get dropped in one phase and
    kept in another."""
    return (F.size("media_refs") > 0) & (F.size("tokens") == 0)


def sign_sketch(doc_norm: DataFrame) -> DataFrame:
    """(doc_id, sig, mo): the per-doc phase-0 sketch — the 64-bit
    embedding sign sketch ``emb_sig`` and the media-only flag,
    broadcast-hinted. Pair generation joins it onto the key table
    (block.expand_key_pairs ``sketch=``), so the raw pair stream is
    born carrying both sides' sketches."""
    sketch = doc_norm.select(
        "doc_id", F.col("emb_sig").alias("sig"), _mediaonly().alias("mo")
    )
    # with the emb_q tables ~70B/doc: broadcastable to ~10^8 docs
    return F.broadcast(sketch)


def sketch_prefilter(
    pairs: DataFrame, doc_norm: DataFrame, cfg: ScoreConfig
) -> DataFrame:
    """Drop pairs below the cosine prefilter, in two sketch phases.

    Phase 0 (sign sketch, 9B/side): pairs whose 64-bit embedding
    SIGN sketches (``emb_sig``) differ in more than
    ``prefilter_max_hamming`` bits drop on one XOR + popcount — pure
    whole-stage-codegen integer ops. This is where the bulk of the
    raw pair stream dies, at a fraction of the per-pair memory
    traffic of the array dot (the C=8 DRAM-saturation fix: the
    expansion+prefilter stage's bytes touched per raw pair fall from
    ~2x64B arrays to two longs). Pairs from the fused expansion already
    carry (sig_a, sig_b, mediaonly_a, mediaonly_b), so the cut is a
    plain filter inside the expansion stage; pairs without them (a
    hand-built pair list) get them from one :func:`sign_sketch` join
    per side first.

    Phase 1 (int8 dot, survivors only): the exact int8-dot cosine.

    Output carries ``s_cos`` (the int8-dot cosine): the dot is the
    most expensive cheap-phase expression, so downstream scoring
    reuses this column instead of recomputing it per pair.
    """
    if cfg.prefilter_min_cheap is None or not cfg.cascade:
        return pairs
    if "mediaonly_a" not in pairs.columns:
        sketch = sign_sketch(doc_norm)
        for side in "ab":
            pairs = pairs.join(
                sketch.select(
                    F.col("doc_id").alias(f"doc_{side}"),
                    F.col("sig").alias(f"sig_{side}"),
                    F.col("mo").alias(f"mediaonly_{side}"),
                ),
                f"doc_{side}",
            )
    # media *presence* is no pass — ~all docs can carry media; only a
    # text-free media doc is exempt from the lexical cuts (its match
    # signal is media overlap alone)
    mediaonly = F.col("mediaonly_a") | F.col("mediaonly_b")
    if cfg.prefilter_max_hamming is not None:
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        pairs = pairs.where(
            mediaonly | (ham <= F.lit(int(cfg.prefilter_max_hamming)))
        )
    # broadcast: planner size estimates come from the FULL doc_norm
    # parquet, so unhinted the much larger pair side gets shuffled
    # instead (measured: +30s at 193k docs)
    qa = F.broadcast(
        doc_norm.select(F.col("doc_id").alias("doc_a"), F.col("emb_q").alias("q_a"))
    )
    qb = F.broadcast(
        doc_norm.select(F.col("doc_id").alias("doc_b"), F.col("emb_q").alias("q_b"))
    )
    joined = (
        pairs.select("doc_a", "doc_b", "mediaonly_a", "mediaonly_b")
        .join(qa, "doc_a")
        .join(qb, "doc_b")
    )
    # vectorized Arrow dot (r6): one numpy einsum per batch instead of
    # an interpreted per-pair fold — measured 3-6x faster per pair on
    # the dominant prefilter stage; nondeterministic marking plays the
    # _eval_once role (computed once, not re-inlined into the filter)
    proj = joined.select(
        "doc_a",
        "doc_b",
        "mediaonly_a",
        "mediaonly_b",
        _int8_dot_udf()(F.col("q_a"), F.col("q_b")).alias("s_cos"),
    )
    keep = mediaonly | (F.col("s_cos") >= F.lit(cfg.prefilter_min_cheap))
    return proj.where(keep).select("doc_a", "doc_b", "s_cos")


def score_pairs(
    pairs: DataFrame, doc_norm: DataFrame, cfg: ScoreConfig
) -> DataFrame:
    """pairs(doc_a, doc_b) + doc_norm -> scored pairs with components.

    Returns (doc_a, doc_b, s_jw, s_lev, s_tok, s_cos, s_media, score).
    With ``cfg.cascade`` (default) only pairs whose upper-bound score
    can reach ``cfg.threshold`` are emitted — callers filtering at
    ``threshold`` (``edges_above_threshold``) see identical results.
    Pairs that already carry ``s_cos`` (the fused pair generation,
    ``cfg.sketch_fused``) have been through :func:`sketch_prefilter`;
    any other pair list goes through it here.
    """
    jw_udf = _make_jw_udf()
    if "s_cos" not in pairs.columns:
        pairs = sketch_prefilter(pairs, doc_norm, cfg)
    # the prefilter already computed the int8-dot cosine — reuse it
    # instead of re-running the dot per pair (and drop the emb_q
    # sketches from the feature join entirely: narrower pair rows)
    has_cos = "s_cos" in pairs.columns
    fa = _features(doc_norm, "a")
    fb = _features(doc_norm, "b")
    if has_cos:
        fa, fb = fa.drop("q_a"), fb.drop("q_b")
    joined = pairs.join(fa, "doc_a").join(fb, "doc_b")
    # ---- cheap JVM components, each evaluated ONCE (_eval_once) ---------
    # encoder vectors are unit-norm or zero => cosine == dot, and the
    # zero-vector case degrades to 0.0 on its own. Sizes/flags are
    # projected out too so the arrays can be dropped here. Names are
    # NOT joined yet (r6): the cheap phase decides on set/sketch
    # features alone, so the truncated names join only the (far
    # smaller) survivor set below instead of riding the full pair
    # stream through the jaccard projection.
    s_cos_col = (
        F.col("s_cos")
        if has_cos
        else _int8_dot_udf()(F.col("q_a"), F.col("q_b"))
    )
    # two-step: intersect counts + sizes bound as attributes first,
    # ratios second — each array_intersect runs exactly once per pair
    # and no array_union runs at all (see _jaccard_from_counts)
    counted = joined.select(
        "doc_a",
        "doc_b",
        F.size("tokens_a").alias("n_tok_a"),
        F.size("tokens_b").alias("n_tok_b"),
        F.size("media_a").alias("n_med_a"),
        F.size("media_b").alias("n_med_b"),
        _eval_once(
            F.size(F.array_intersect("tokens_a", "tokens_b"))
        ).alias("i_tok"),
        s_cos_col.alias("s_cos"),
        _eval_once(
            F.size(F.array_intersect("media_a", "media_b"))
        ).alias("i_med"),
    )
    cheap = counted.select(
        "doc_a",
        "doc_b",
        (F.col("n_tok_a") == 0).alias("no_tok_a"),
        (F.col("n_tok_b") == 0).alias("no_tok_b"),
        (F.col("n_med_a") > 0).alias("has_med_a"),
        (F.col("n_med_b") > 0).alias("has_med_b"),
        _jaccard_from_counts(
            F.col("i_tok"), F.col("n_tok_a"), F.col("n_tok_b")
        ).alias("s_tok"),
        "s_cos",
        _jaccard_from_counts(
            F.col("i_med"), F.col("n_med_a"), F.col("n_med_b")
        ).alias("s_media"),
    )
    has_media = F.col("has_med_a") | F.col("has_med_b")
    no_text = F.col("no_tok_a") & F.col("no_tok_b")
    if cfg.cascade:
        cheap_text_max = (
            cfg.w_jw
            + cfg.w_lev
            + cfg.w_tok * F.col("s_tok")
            + cfg.w_cos * F.col("s_cos")
        )
        upper = (
            F.when(no_text & has_media, F.col("s_media"))
            .when(
                has_media,
                cfg.w_text * cheap_text_max + cfg.w_media * F.col("s_media"),
            )
            .otherwise(cheap_text_max)
        )
        cheap = cheap.where(upper >= cfg.threshold)
    # names join the survivors only (truncated pre-join as before)
    cheap = cheap.join(_name_features(doc_norm, "a"), "doc_a").join(
        _name_features(doc_norm, "b"), "doc_b"
    )
    # ---- expensive string components on survivors only -----------------
    # names were truncated JVM-side above, bounding the quadratic
    # kernels AND the Arrow transfer; explicit repartition because AQE
    # coalesces by bytes while pandas-UDF cost is per-row CPU
    spark = pairs.sparkSession
    # W5 length-sorted batching (`BiEncoder/model.py:99-100`): each
    # Arrow batch pads to its own (short) max length — the batched 2-D
    # JW kernel's work scales with batch max length. No shuffle.
    survivors = (
        cheap.repartition(spark.sparkContext.defaultParallelism)
        .sortWithinPartitions(F.length("name_a"))
        .withColumn("s_jw", jw_udf("name_a", "name_b"))
    )
    if cfg.cascade:
        # JW-refined lossless upper bound BETWEEN the two kernels:
        # Jaro-Winkler is O(n) per pair, Levenshtein O(n^2) — so
        # re-apply the cascade bound with the ACTUAL s_jw (s_lev <= 1
        # is the only remaining optimism) and only the survivors pay
        # for the quadratic kernel. On corpora where the cheap
        # set/cosine signals saturate (near-identical vocabularies)
        # this is the phase that separates: measured on the sf0.1
        # flagship, 1.30M cheap-phase survivors -> 22.7k Levenshtein
        # calls, identical edges (the bound is an upper bound, so
        # no pair that could clear the threshold is dropped).
        jw_text_max = (
            cfg.w_jw * F.col("s_jw")
            + cfg.w_lev
            + cfg.w_tok * F.col("s_tok")
            + cfg.w_cos * F.col("s_cos")
        )
        jw_upper = (
            F.when(no_text & has_media, F.col("s_media"))
            .when(
                has_media,
                cfg.w_text * jw_text_max + cfg.w_media * F.col("s_media"),
            )
            .otherwise(jw_text_max)
        )
        survivors = survivors.where(jw_upper >= cfg.threshold)
    # Spark's levenshtein counts code points like length(), so this is
    # the ratio 1 - d/max(len) (1.0 for two empty names); _eval_once
    # keeps Catalyst from inlining the DP into text_score, score and
    # the edges filter
    s_lev = 1 - F.levenshtein("name_a", "name_b") / F.greatest(
        F.length("name_a"), F.length("name_b"), F.lit(1)
    )
    survivors = survivors.withColumn("s_lev", _eval_once(s_lev))
    text_score = (
        cfg.w_jw * F.col("s_jw")
        + cfg.w_lev * F.col("s_lev")
        + cfg.w_tok * F.col("s_tok")
        + cfg.w_cos * F.col("s_cos")
    )
    scored = survivors.withColumn("text_score", text_score).withColumn(
        "score",
        # media-only pairs (no text on either side) are judged purely
        # on media overlap — otherwise the empty text components would
        # drown an exact media match below any threshold
        F.when(no_text & has_media, F.col("s_media"))
        .when(
            has_media,
            cfg.w_text * F.col("text_score") + cfg.w_media * F.col("s_media"),
        )
        .otherwise(F.col("text_score")),
    )
    return scored.select(
        "doc_a", "doc_b", "s_jw", "s_lev", "s_tok", "s_cos", "s_media", "score"
    )


def edges_above_threshold(scored: DataFrame, cfg: ScoreConfig) -> DataFrame:
    """rho-style threshold filter (`utils/entity_extractor.py:32`)."""
    return scored.where(F.col("score") >= cfg.threshold).select(
        "doc_a", "doc_b", "score"
    )
