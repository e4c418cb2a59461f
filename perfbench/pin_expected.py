#!/usr/bin/env python3
"""Re-pin the expected outputs of the registry_sf0.1 workload.

    python3 perfbench/pin_expected.py [--fixtures DIR]

Run from the repository root, after a change that legitimately alters a
registry op's result (or the op slice). For each op in the slice it runs
the op's DuckDB oracle SQL (SparkEntry.oracleSql) over the sf0.1
fixtures, then has the harness digest the oracle result and the
production form's result the same way a benchmark run does, and rewrites
perfbench/expected/registry_sf0.1.json. The harness's --step pin mode
documents how each op is classified (oracle, oracle rows only, known
deviation, snapshot).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(HERE, "run.py"))
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def harness(classes, work, fixtures, expected, *extra):
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
           + ["-cp", classes + ":" + os.path.join(run.SPARK_JARS, "*"), "perfbench.Main",
              "--workload", "pin", "--seed", "0", "--seconds", "0", "--trace", "0",
              "--work", work, "--inputs", work, "--fixtures", fixtures,
              "--expected", expected, "--cpus", "4"] + list(extra))
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixtures", default=run.FIXTURES)
    args = ap.parse_args()
    root = os.getcwd()
    classes, _ = run.build(root, os.path.join(root, ".bench_build", "perfbench"))
    expected = os.path.join(HERE, "expected", "registry_sf0.1.json")
    work = tempfile.mkdtemp(prefix="pin-", dir=os.path.join(root, ".bench_build"))
    try:
        sql_file = os.path.join(work, "oracle_sql.json")
        harness(classes, work, args.fixtures, expected, "--step", "sql", "--out", sql_file)
        oracle_dir = os.path.join(work, "oracle")
        os.makedirs(oracle_dir)
        # oracle results are cached by (fixtures, SQL): the pipeline_curated
        # replay alone takes minutes
        cache = os.path.join(root, ".bench_build", "perfbench", "oracle-cache")
        os.makedirs(cache, exist_ok=True)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.fixtures}/{t}.parquet'")
        for name, sql in sorted(json.load(open(sql_file)).items()):
            key = hashlib.sha256(f"{args.fixtures}\n{sql}".encode()).hexdigest()[:16]
            cached = os.path.join(cache, key)
            if not os.path.exists(cached):
                con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
                os.rename(cached + ".tmp", cached)
            shutil.copy(cached, os.path.join(oracle_dir, name))
            print(f"oracle {name}", file=sys.stderr)
        harness(classes, work, args.fixtures, expected, "--step", "pin",
                "--oracle", oracle_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {expected}")


if __name__ == "__main__":
    main()
