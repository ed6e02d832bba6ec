"""Record the stored output fingerprints in ``expected.json``.

    python3 perfbench/record_expected.py

Run from the repository root. For the ``curation_x10`` corpus and its
smoke-test counterpart, computes every query's fingerprint twice (a
query whose two fingerprints differ is not deterministic and cannot be
checked), and cross-checks each query's full output once against
DuckDB through ``queries.oracle_sql()``. Writes ``expected.json`` and
exits 1 if any query failed either check. Re-run it only when the
corpus generator or a query's intended output changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench_run

KEYS = {"curation_x10": False, "curation_x10@smoke": True}


def duckdb_frame(con, corpus_dir: str, sql: str):
    for entry in sorted(os.listdir(corpus_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(corpus_dir, entry)
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con.execute(sql).fetchdf()


def main() -> int:
    run_dir = os.path.join(bench_run.WORK, f"record-{os.getpid()}")
    bench_run.pin_environment(run_dir)
    sys.path[:0] = [os.getcwd()]
    import duckdb

    from bigbookapi_etl_with_airflow_and_snowflake_spark import queries
    from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

    import curation
    from checks import canonical_rows, fingerprint
    from workloads import CURATION_QUERIES

    spark = get_spark(app_name="perfbench-record")
    registry, oracle = queries.queries(), queries.oracle_sql()
    out: dict[str, dict] = {}
    bad: list[str] = []
    try:
        for key, smoke in KEYS.items():
            corpus_dir, marker = curation.corpus_dir(os.path.join(bench_run.WORK, "corpus"), smoke)
            con = duckdb.connect()
            out[key] = {"_generation": marker["generation"]}
            for name in CURATION_QUERIES:
                fps = [fingerprint(registry[name](spark, corpus_dir)) for _ in range(2)]
                if fps[0] != fps[1]:
                    bad.append(f"{key} {name}: nondeterministic {fps}")
                out[key][name] = fps[0]
                if name in oracle:
                    got = canonical_rows(registry[name](spark, corpus_dir).toPandas())
                    want = canonical_rows(duckdb_frame(con, corpus_dir, oracle[name]))
                    status = "oracle ok" if got == want else "ORACLE MISMATCH"
                    if got != want:
                        bad.append(f"{key} {name}: {len(got)} rows vs DuckDB {len(want)}")
                else:
                    status = "no oracle"
                print(f"{key} {name}: {fps[0]['rows']} rows {fps[0]['hash']} {status}", flush=True)
            con.close()
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(bench_run.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for b in bad:
        print("FAILED", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
