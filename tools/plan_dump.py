"""Masked physical plans of the fused blocking and scoring entry points.

Builds a fixed small synthetic corpus (``SynthConfig(n_entities=200,
seed=7)``) and writes, one file each, the formatted physical plans of

- ``candidate_pairs`` with the default (fused) ScoreConfig,
- ``incremental_candidate_pairs`` with the same config, the odd docs
  arriving as a delta on the even ones,
- ``score_pairs`` over the fused candidate pairs,

plus the sorted pair sets of both ``candidate_pairs`` modes (fused and
``prefilter_min_cheap=None``) and the sorted scored rows of
``score_pairs`` over the fused pairs (``doc_a``, ``doc_b``, every
``s_*`` column and ``score``, each written with ``repr`` so equal
files mean bit-identical scores). Expression ids (``#123``), exchange plan
ids (``plan_id=45``) and the per-plan random seeds of the
``_eval_once`` shuffle guards are masked, so two checkouts produce the
same files iff their plans, pair sets and scores are the same:

    python tools/plan_dump.py OUT_A                       # in checkout A
    (cd ../other && python tools/plan_dump.py OUT_B)      # in checkout B
    diff -r OUT_A OUT_B
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = (
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    # shuffle(array(x), Some(<seed>)): the _eval_once guard's seed
    (re.compile(r"Some\(-?\d+L?\)"), "Some(_)"),
)


def masked_plan(df) -> str:
    """The formatted physical plan of ``df``, ids and seeds masked."""
    qe = df._jdf.queryExecution()
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "formatted")
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return text


def _pair_lines(pairs) -> str:
    rows = sorted((r.doc_a, r.doc_b) for r in pairs.select("doc_a", "doc_b").collect())
    return "".join(f"{a}\t{b}\n" for a, b in rows)


def _scored_lines(scored) -> str:
    cols = ["doc_a", "doc_b"] + [c for c in scored.columns if c.startswith("s_")]
    cols.append("score")
    rows = sorted(tuple(r) for r in scored.select(*cols).collect())
    header = "\t".join(cols) + "\n"
    return header + "".join("\t".join(map(repr, r)) + "\n" for r in rows)


def main(out_dir: str) -> None:
    from chameleon_entity_linking_spark.operators.block import (
        BlockConfig,
        blocking_keys,
        candidate_pairs,
    )
    from chameleon_entity_linking_spark.operators.incremental_er import (
        incremental_candidate_pairs,
    )
    from chameleon_entity_linking_spark.operators.normalize import normalize
    from chameleon_entity_linking_spark.operators.score import (
        ScoreConfig,
        score_pairs,
    )
    from chameleon_entity_linking_spark.plans.session import get_spark
    from chameleon_entity_linking_spark.sources.synth import (
        SynthConfig,
        synth_tables,
    )

    spark = get_spark(cores=2, shuffle_partitions=4)
    docs = synth_tables(spark, SynthConfig(n_entities=200, seed=7))["documents"]
    docs = spark.createDataFrame(
        sorted(docs.collect(), key=lambda r: r.doc_id), docs.schema
    )
    doc_norm = normalize(docs).persist()
    ids = [r.doc_id for r in doc_norm.select("doc_id").orderBy("doc_id").collect()]
    base = doc_norm.where(doc_norm.doc_id.isin(ids[::2]))
    new = doc_norm.where(doc_norm.doc_id.isin(ids[1::2]))
    block_cfg, score_cfg = BlockConfig(), ScoreConfig()

    fused, _ = candidate_pairs(doc_norm, block_cfg, score_cfg=score_cfg)
    unfused, _ = candidate_pairs(
        doc_norm, block_cfg, score_cfg=ScoreConfig(prefilter_min_cheap=None)
    )
    inc = incremental_candidate_pairs(
        new,
        blocking_keys(base, block_cfg),
        block_cfg,
        doc_norm_all=base.unionByName(new),
        score_cfg=score_cfg,
    )
    scored = score_pairs(fused, doc_norm, score_cfg)
    outputs = {
        "candidate_pairs.plan": masked_plan(fused),
        "incremental_candidate_pairs.plan": masked_plan(inc),
        "score_pairs.plan": masked_plan(scored),
        "candidate_pairs_fused.pairs": _pair_lines(fused),
        "candidate_pairs_unfused.pairs": _pair_lines(unfused),
        "score_pairs.rows": _scored_lines(scored),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, text in outputs.items():
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(text)
        print(f"{name}: {text.count(chr(10))} lines")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/plan_dump.py OUT_DIR")
    main(sys.argv[1])
