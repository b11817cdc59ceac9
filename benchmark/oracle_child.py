"""Check the benchmark's collected query results against the registry's
DuckDB oracles, in a process of its own so that neither DuckDB's memory
nor the collected rows count toward the benchmark's peak RSS.

    python3 benchmark/oracle_child.py <sf_dir> <results_dir> <query> [<query> ...]

``<results_dir>/<query>.pkl`` holds ``(columns, rows)`` as Spark returned
them. Prints one JSON object: {query: {"spark": digest, "oracle": digest,
or null for a query without an oracle}}, where a digest is {"columns":
[...], "rows": n, "digest": sha256 of the canonical rows}. Both sides are
canonicalised by tests/oracle_diff.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from comix_etl_spark.plans.queries import QUERIES  # noqa: E402
from tests.oracle_diff import canonical_rows, duck_connection  # noqa: E402


def digest(columns: list[str], rows: list[tuple]) -> dict:
    canon = canonical_rows(columns, rows)
    return {"columns": sorted(columns), "rows": len(rows),
            "digest": hashlib.sha256("\n".join(canon).encode()).hexdigest()}


def main(sf_dir: str, results_dir: str, names: list[str]) -> None:
    con = duck_connection(sf_dir)
    out = {}
    for name in names:
        with open(os.path.join(results_dir, f"{name}.pkl"), "rb") as fh:
            spark = digest(*pickle.load(fh))
        oracle = None
        if QUERIES[name].oracle:
            res = con.execute(QUERIES[name].oracle)
            oracle = digest([c[0] for c in res.description], res.fetchall())
        out[name] = {"spark": spark, "oracle": oracle}
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
