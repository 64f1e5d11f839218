"""Plan audit: dump scale-relevant physical-plan properties for every
catalog query at sf0.001 (plan shape is sf-independent, with one
DECLARED exception as of r7: ivf_assign's auto strategy switches from
the pure-JVM expression argmax to an Arrow/MapInPandas numpy ranking at
>= 128 centroids, so the semdedup queries — whose nlist grows with the
corpus — carry one additional declared Arrow boundary at sf1+ that this
sf0.001 audit shows in the expr form) — the evidence file behind the
100 TB design claims: Python-eval node count (0 on hot paths), exchange
counts, broadcast-join usage, and parquet pushdown.

Queries registered in ``PLAN_FRAMES`` (gates that materialize their
result before a run-scoped index/sink directory vanishes) are audited
on the LIVE serving frame: the audit builds the persisted artifacts at
a run-scoped path and captures the plan BEFORE the local
materialization — so the rows record the real exchange / broadcast /
pushdown shape of the production serving path instead of the
LocalTableScan the registered callable returns (VERDICT r14 #1). Those
rows carry a trailing ``serving=yes`` marker.

Usage: python tools/plan_audit.py [sf_dir]   (the audit goes to stdout)
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_taggregator_spark import plans as P  # noqa: E402
from hbase_taggregator_spark.catalog import PLAN_FRAMES, QUERIES  # noqa: E402
from hbase_taggregator_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# plan audit @ {sf_dir}")
    print("# query | python_eval | exchanges | broadcast_joins | pushed_filters")
    print("# rows marked 'serving=yes' are audited on the live serving frame")
    print("# (persisted index/sink built at a run-scoped path) rather than the")
    print("# registered callable's materialized result — see PLAN_FRAMES")
    for name, fn in QUERIES.items():
        try:
            if name in PLAN_FRAMES:
                # build the gate's persisted artifacts at a run-scoped
                # path and audit the live frame while they exist — the
                # explain walks the parquet scans, so the directory must
                # outlive the plan capture
                with tempfile.TemporaryDirectory() as d:
                    df = PLAN_FRAMES[name](spark, sf_dir, d)
                    py = P.python_eval_count(df)
                    ex = P.count_nodes(df, "Exchange")
                    bc = P.broadcast_join_count(df)
                    pf = "yes" if P.pushed_filters(df) else "-"
                print(f"{name} | py={py} | ex={ex} | bcast={bc} | pushed={pf}"
                      " | serving=yes")
            else:
                df = fn(spark, sf_dir)
                py = P.python_eval_count(df)
                ex = P.count_nodes(df, "Exchange")
                bc = P.broadcast_join_count(df)
                pf = "yes" if P.pushed_filters(df) else "-"
                print(f"{name} | py={py} | ex={ex} | bcast={bc} | pushed={pf}")
        except Exception as e:  # pragma: no cover - audit robustness
            print(f"{name} | ERROR {type(e).__name__}: {str(e)[:80]}")
    spark.stop()


if __name__ == "__main__":
    main()
