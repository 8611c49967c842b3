#!/usr/bin/env python
"""Dump .explain("formatted") for registered queries into plans/<tag>/.

    python scripts/dump_plans.py r13 before [names...]

Writes plans/<tag>/<query>_<suffix>.txt for each query (all registered
queries when no names are given). One shared session. NOTE (r14, per
ADVICE r13): explain itself does not execute the FINAL plan, but
several queries pin bounded intermediates with eager localCheckpoint
during CONSTRUCTION (cross_encoder_rerank, distillation_pairs,
exact_rerank, dedup_clusters' union-find, index builds) — dumping those
plans runs the pinned stages' Spark jobs, so a full-registry dump takes
minutes, not seconds. Queries whose construction fails get an ERROR
file so the failure is visible in review.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3:]

    from polars_nexpresso_spark.session import get_spark
    import __spark_entry__ as em

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"pns-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    qs = em.queries()
    names = only or sorted(qs)
    for name in names:
        path = out_dir / f"{name}_{suffix}.txt"
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        path.write_text(plan + "\n")
        print(f"wrote {path.relative_to(REPO)} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
