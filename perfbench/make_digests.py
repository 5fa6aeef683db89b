"""Regenerate ``perfbench/gate_digests.json``, the expected result digest
of every gate the ``gates`` workload runs.

    python3 perfbench/make_digests.py          # from the repository root

Each gate runs once on the tables under ``perfbench/data``. Where the
gate's DuckDB oracle (``queries.ORACLE_SQL``) finishes within
``ORACLE_TIMEOUT_S`` seconds, the digest comes from the oracle and the
Spark result must match it; otherwise the digest is the Spark result of
the commit that ran this script (``source: seed_output``).
``label_propagation``'s oracle is never run: its k-NN self-join filled a
20 GB disk at sf0.1.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

from perfbench.digests import digest
from perfbench.workloads import BATCH_GATES, GATE_DATA, HERE, STREAM_GATES, session_conf

ORACLE_TIMEOUT_S = 120
SKIP_ORACLE = {"label_propagation": "oracle k-NN self-join exhausts disk at sf0.1"}


def _oracle(sql: str, timeout: float, tmp: str):
    """DuckDB result of ``sql`` over the benchmark tables, or ``None``
    when it does not finish within ``timeout`` seconds."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET max_temp_directory_size='4GB'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(GATE_DATA, t)}.parquet'")
    box: dict = {}

    def work():
        try:
            box["df"] = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 — reported as no oracle
            box["error"] = f"{type(e).__name__}: {e}"

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(timeout)
    if th.is_alive():
        con.interrupt()
        th.join()
        return None, f"timed out after {timeout:.0f}s"
    con.close()
    return box.get("df"), box.get("error")


def main() -> int:
    from mofka_spark import queries
    from mofka_spark.session import get_spark

    scratch = tempfile.mkdtemp(prefix="perfbench-digests-")
    try:
        spark = get_spark(app_name="perfbench-digests",
                          master=f"local[{len(os.sched_getaffinity(0))}]",
                          conf=session_conf(scratch))
        spark.sparkContext.setLogLevel("ERROR")
        gates = {}
        mismatches = []
        for name in STREAM_GATES + BATCH_GATES:
            pdf = queries.SPARK_QUERIES[name](spark, GATE_DATA).toPandas()
            entry = {"sha256": digest(pdf), "rows": len(pdf),
                     "source": "seed_output"}
            if name in SKIP_ORACLE:
                entry["note"] = SKIP_ORACLE[name]
            else:
                odf, err = _oracle(queries.ORACLE_SQL[name],
                                   ORACLE_TIMEOUT_S, scratch)
                if odf is None:
                    entry["note"] = f"oracle did not finish: {err}"
                elif digest(odf) == entry["sha256"]:
                    entry["source"] = "oracle"
                else:
                    mismatches.append(name)
                    entry["note"] = "oracle digest differs from the Spark result"
                    entry["oracle_sha256"] = digest(odf)
            gates[name] = entry
            print(name, entry, flush=True)
        spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    doc = {
        "canonicalisation": "perfbench/digests.py",
        "data": "perfbench/data (sf0.1 documents and embeddings tables)",
        "gates": gates,
    }
    with open(os.path.join(HERE, "gate_digests.json"), "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    if mismatches:
        print(f"oracle mismatch: {mismatches}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
