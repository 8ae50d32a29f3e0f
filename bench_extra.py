"""Per-query measurement harness for optimization work (guide §1).

``bench.py`` is the frozen driver contract; this file is the
developer-side instrument: it times any subset of the registry
queries with the noop sink (computation only, no sink cost), captures
``explain("formatted")`` plans into the ``--explain`` directory (one
``<query>_<suffix>.txt`` per query), and labels each job so
eventlogs/UI attribute time to the right query.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 \
      --queries simhash,connected_components --reps 2 \
      --explain plans/<round> --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--explain", default="")
    ap.add_argument("--suffix", default="before")
    a = ap.parse_args()

    import __spark_entry__ as entry
    from chameleon_entity_linking_spark.plans.session import get_spark

    spark = get_spark(cores=CPUS, shuffle_partitions=max(CPUS, 8))
    queries = entry.queries()
    names = (
        [q for q in a.queries.split(",") if q]
        if a.queries
        else list(queries)
    )
    out: dict[str, list[float]] = {}
    for name in names:
        if a.explain:
            import contextlib
            import io

            os.makedirs(a.explain, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                queries[name](spark, a.sf).explain("formatted")
            with open(
                os.path.join(a.explain, f"{name}_{a.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        times = []
        for rep in range(a.reps):
            spark.sparkContext.setJobDescription(f"{name} rep {rep}")
            t0 = time.time()
            queries[name](spark, a.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.time() - t0, 2))
            spark.sparkContext.setJobDescription(None)
        out[name] = times
        print(f"TIMED {name}: {times}", flush=True)
    print("RESULT " + json.dumps({"sf": a.sf, "times": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
