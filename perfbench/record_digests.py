"""Record the gate digests the workloads check against.

    python3 perfbench/record_digests.py

Runs every gate of both workloads once over the benchmark's fixed
tables (``data/sf0.01``).  Each gate is first checked against its
DuckDB oracle with ``testing.compare_hashed``; if any gate's Spark
output disagrees with its oracle, the script reports it and exits 1
without writing.  Otherwise it writes ``[row count, hash-sum]`` per
gate to ``perfbench/digests.json``.  Run it from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    sys.path.insert(0, os.getcwd())

    import hooks
    import run
    import workloads

    from python_sql_datawarehouse_project_spark import registry
    from python_sql_datawarehouse_project_spark.session import build_session
    from python_sql_datawarehouse_project_spark.testing import compare_hashed

    tmp = tempfile.mkdtemp(prefix=".perfbench_digests_", dir=os.getcwd())
    tempfile.tempdir = tmp
    shm = hooks.ShmEntries()
    try:
        tables = os.path.join(tmp, "tables")
        shutil.copytree(run.DATA, tables)
        spark = build_session(
            app_name="perfbench-digests", master=f"local[{run.cpus()}]",
            shuffle_partitions=run.cpus(),
            extra_conf={"spark.driver.memory": run.DRIVER_MEM,
                        "spark.local.dir": os.path.join(tmp, "local")},
        )
        spark.sparkContext.setLogLevel("ERROR")
        queries, oracles = registry.queries(), registry.oracles()
        digests, bad = {}, []
        for name in workloads.STAR_GATES + workloads.CORPUS_GATES:
            r = compare_hashed(name, queries[name], oracles[name], spark, tables)
            print(("OK  " if r.ok else "FAIL"), name, r.spark_rows, r.mismatches[:2],
                  flush=True)
            if not r.ok:
                bad.append(name)
            digests[name] = workloads.gate_digest(spark, queries[name], tables)
            print("digest", name, digests[name], flush=True)
        spark.stop()
    finally:
        shm.remove_new()
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print("oracle mismatches:", bad)
        return 1
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
