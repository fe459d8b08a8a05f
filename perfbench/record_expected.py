"""Record the row counts and digests ``query_mix`` checks its registered
queries against, into ``perfbench/expected.json``.

Where a query has a DuckDB twin (``registry.oracle_sql()``), the value
comes from the twin run over the generated tables through the oracle
harness (``tests/oracle_harness.py``), whose canonicalization the digest
uses; the Spark result must produce the same digest or the script stops.  Queries without a twin
record the Spark result, which must repeat exactly across two runs.

Run from the repository root:  python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import gen  # noqa: E402
import query_mix  # noqa: E402


def main() -> int:
    work = os.path.join(common.ROOT, ".perfbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_env(work)
    from oracle_harness import duckdb_connection

    from nginx_analytics_spark import registry

    sf = gen.write_tables(os.path.join(work, "tables"))
    spark, _ = common.start_spark()
    con = duckdb_connection(sf)
    builders, twins = registry.queries(), registry.oracle_sql()
    out, bad = {}, []
    for name in query_mix.LOG_QUERIES + query_mix.CORPUS_QUERIES:
        runs = [common.frame_digest(builders[name](spark, sf).toPandas()) for _ in range(2)]
        if runs[0] != runs[1]:
            bad.append(f"{name}: spark result differs between runs {runs}")
            continue
        rows, digest = runs[0]
        source = "spark"
        if name in twins:
            twin = common.frame_digest(con.execute(twins[name]).df())
            if twin != runs[0]:
                bad.append(f"{name}: spark {runs[0]} != duckdb twin {twin}")
                continue
            source = "duckdb"
        out[name] = {"rows": rows, "digest": digest, "source": source}
        print(f"{name:40s} rows={rows:6d} {digest} {source}", flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad))
        return 1
    doc = {"tables": {"seed": gen.TABLE_SEED, "rows": gen.TABLE_ROWS}, "queries": out}
    with open(query_mix.EXPECTED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
