"""Local oracle harness mirroring the driver's correctness gate.

Runs every registered query at a small scale factor and compares it with
its DuckDB oracle: row count, column names, and an order-insensitive value
multiset (columns sorted by name, doubles rounded to tolerate last-ulp
engine drift the same way the driver's value-hash does after our in-query
rounding). Usage::

    python tools/verify_queries.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` additionally writes a machine-readable artifact. The
committed one is ``VERIFY_REGISTRY.json`` at sf0.01: the round-end gate
samples only ~50 keys, so it is the full-registry evidence (round 3,
item #4), checked by tests/test_queries.py and tools/check_artifacts.py.
"""

from __future__ import annotations

import sys
from collections import Counter

import duckdb

sys.path.insert(0, ".")

from ws_to_kafka_spark.operators import QUERIES  # noqa: E402
from ws_to_kafka_spark.operators import distributed  # noqa: E402
from ws_to_kafka_spark.session import get_spark  # noqa: E402
from ws_to_kafka_spark.tables import TABLE_NAMES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, col_order):
    return Counter(tuple(_norm(r[i]) for i in col_order) for r in rows)


def compare(spark, con, name: str, sf_dir: str) -> str:
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return f"rows-only ({len(srows)} rows)"
    orel = con.execute(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    if sorted(scols) != sorted(ocols):
        return f"SCHEMA MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} oracle={len(orows)}"
    s_order = [scols.index(c) for c in sorted(scols)]
    o_order = [ocols.index(c) for c in sorted(ocols)]
    sm, om = _multiset(srows, s_order), _multiset(orows, o_order)
    if sm != om:
        diff = (sm - om) + (om - sm)
        sample = list((sm - om).items())[:3] + list((om - sm).items())[:3]
        return f"VALUE MISMATCH ({sum(diff.values())} rows differ) e.g. {sample}"
    return f"match ({len(srows)} rows)"


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a] or list(QUERIES)
    spark = get_spark("verify")
    con = duck_connection(sf_dir)
    failures = 0
    results: dict[str, dict] = {}
    for name in names:
        try:
            # Scope rank-pass caches to this query's build+consume (see
            # distributed.persist_scope): the full-registry run builds
            # 250+ plans in one session and must not accumulate them.
            with distributed.persist_scope():
                status = compare(spark, con, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 - report and continue
            status = f"ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        ok = status.startswith(("match", "rows-only"))
        failures += 0 if ok else 1
        results[name] = {"ok": ok, "status": status}
        print(f"{'PASS' if ok else 'FAIL'}  {name:24s} {status}", flush=True)
    print(f"{len(names) - failures}/{len(names)} ok")
    if json_path:
        import json

        if set(names) != set(QUERIES):
            # tests/test_queries.py::test_verify_artifact_covers_registry
            # fails on any committed artifact that doesn't cover the full
            # registry — a subset --json run is for local iteration only.
            print(
                f"WARNING: --json artifact covers {len(names)}/{len(QUERIES)} "
                "registry keys (subset run) — do not commit as VERIFY_REGISTRY.json",
                file=sys.stderr,
            )
        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(names),
                    "n_ok": len(names) - failures,
                    "results": results,
                },
                fh,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
