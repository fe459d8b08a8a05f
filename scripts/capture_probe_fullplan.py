"""Capture the FULL (checkpoint-free) plan of the at-rest probe
queries (r17 evidence). The probes eagerly ``localCheckpoint`` their
candidate frames, so ``capture_plans.py``'s dumps show those segments
as ``Scan ExistingRDD`` leaves and the band-join strategy — the thing
the r17 broadcast change moves — is invisible. This script stubs
``DataFrame.localCheckpoint`` to identity (PLAN CAPTURE ONLY, nothing
is executed), rebuilds each probe query, and dumps the one composed
plan, where the band join against the at-rest index appears with its
join strategy and build side. Output is normalized and the worker
count defaulted as in ``capture_plans.py``.

Usage: python scripts/capture_probe_fullplan.py <tag> <suffix> [query...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "incremental_near_dups_probe",
    "incremental_jaccard_prefix_probe",
    "incremental_embedding_near_dups_probe",
]


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r17"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    # Spark 4: the concrete classic DataFrame OVERRIDES localCheckpoint,
    # so the stub must land on it, not on the abstract base.
    from pyspark.sql.classic.dataframe import DataFrame

    from nginx_analytics_spark import registry
    from nginx_analytics_spark.session import get_spark
    from scripts.capture_plans import normalize

    spark = get_spark(
        app_name=f"capture_probe_fullplan_{tag}_{suffix}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    qs = registry.queries()

    real_ckpt = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, eager=True: self  # plan capture
    try:
        for name in names:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_fullplan_{suffix}.txt")
            with open(path, "w") as f:
                f.write(
                    "# FULL probe plan with localCheckpoint stubbed to\n"
                    "# identity (capture_probe_fullplan.py): the eager\n"
                    "# candidate materializations are inlined so the\n"
                    "# band join against the at-rest index is visible.\n"
                    "# INITIAL (pre-AQE) formatted plan; never executed.\n\n"
                )
                f.write(normalize(buf.getvalue()))
            print(f"{name}: captured")
    finally:
        DataFrame.localCheckpoint = real_ckpt
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
