#!/usr/bin/env python3
"""Regenerates perfbench/goldens.json, the digests the benchmark's output
check compares against.

    python3 perfbench/make_goldens.py

For every workload query it runs the engine's own correctness dump
(graft.Verify) at the workload's scale and digests each result the way the
benchmark does. A query with a DuckDB oracle (SparkEntry.oracleSql) that
finishes at that scale gets the oracle's digest as its golden, and the dump
must match it or this script stops. Any other query gets the dump's digest,
pinned. Rerun it only
when a query's intended result changes, and review the diff.
"""
import json
import shutil
import subprocess
import sys
import threading

import duckdb

import benchlib
import run
from workloads import WORKLOADS

ORACLE_TIMEOUT_S = 60


def main():
    classpath, jvm_opts, _ = run.build()
    goldens = {}
    for sf in sorted({w["sf"] for w in WORKLOADS.values()}):
        names = sorted({q for w in WORKLOADS.values() if w["sf"] == sf for q in w["queries"]})
        sf_dir = run.DATA / sf
        out = run.OUT / "goldens" / sf
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        subprocess.run(["java", f"-Xmx{run.HEAP}", *jvm_opts,
                        f"-Djava.io.tmpdir={out}", f"-Dspark.local.dir={out}", "-cp", classpath, "graft.Verify",
                        str(sf_dir), str(out / "dump"), ",".join(names)],
                       cwd=out, check=True)
        oracle = json.loads((out / "dump" / "oracle_sql.json").read_text())
        con = duckdb.connect()
        for t in sf_dir.glob("*.parquet"):
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")

        def digest_of(sql):
            df = con.execute(sql).fetchdf()
            if "_graft_query_failed" in df.columns:
                sys.exit(f"{sf}: a query failed in graft.Verify: {df.iloc[0, 0]}")
            return benchlib.digest(list(df.columns),
                                   list(zip(*(df[c].tolist() for c in df.columns))))

        goldens[sf] = {}
        for q in names:
            got, rows = digest_of(f"SELECT * FROM read_parquet('{out / 'dump' / q}/*.parquet')")
            want = None
            if q in oracle:
                # an oracle that does not finish at this scale leaves the
                # query to the pinned dump digest
                timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                timer.start()
                try:
                    want, want_rows = digest_of(oracle[q])
                except duckdb.InterruptException:
                    print(f"{sf}/{q}: oracle did not finish in {ORACLE_TIMEOUT_S} s")
                finally:
                    timer.cancel()
            if want is not None:
                if got != want:
                    sys.exit(f"{sf}/{q}: engine result ({rows} rows) differs from its "
                             f"DuckDB oracle ({want_rows} rows)")
                source = "oracle"
            else:
                source = "verify"
            goldens[sf][q] = {"digest": got, "rows": rows, "source": source}
            print(f"{sf}/{q}: {rows} rows, {source}")
        con.close()
    (run.HERE / "goldens.json").write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
