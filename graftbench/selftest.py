"""Self-tests of the benchmark itself, run by `run.py --selftest`.

One short `relational` run with an injected failing operation, the plan
check and the configuration check covers:
  - the noop action keeps tpch_q1_pricing_summary's aggregates and
    text_fingerprint's fp_min8 in the executed plan (count() prunes them);
  - the session's spark.sql.* settings equal GraftSession's;
  - an injected failure shows in success_frac and its cause is printed;
  - a corrupted relational result fails the DuckDB oracle check;
and a static check that BENCHMARK.json names what run.py prints.
"""
import glob
import json
import os
import shutil

import duckdb

FAIL_OP = "tpch_q6_forecast_revenue"


def corrupt(src, dst):
    """Copy a result directory with the first value of its first double
    column changed."""
    os.makedirs(dst)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    con = duckdb.connect()
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()
    name = next(c[0] for c in cols if c[1] == "DOUBLE")
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1
                      THEN {name} + 1 ELSE {name} END AS {name})
                    FROM read_parquet({files!r}))
                  TO '{dst}/part-0.parquet' (FORMAT PARQUET)""")
    con.close()


def main(run):
    results = []

    def check(name, ok, detail):
        results.append((name, bool(ok)))
        print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}")

    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    check("benchmark_json_matches_launcher",
          [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
          and [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
          and [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS),
          "metric names, units and workloads")

    rec, checks = run.run("relational", 7, 1, 0, keep=True,
                          extra=["--fail-op", FAIL_OP, "--plan-check", "--check-confs"])
    work = rec["_work"]
    try:
        for name, cols in rec["plan_check"].items():
            check(f"noop_keeps_{name}", cols["columns"] and not cols["missing_under_noop"],
                  f"computed {cols['columns']}; missing under noop "
                  f"{cols['missing_under_noop']}, under count() {cols['missing_under_count']}")
        check("session_confs_equal_graftsession", rec["conf_diff"] == [],
              f"differences: {rec['conf_diff']}")
        log = open(os.path.join(work, "jvm.log"), errors="replace").read()
        e2e = rec["end_to_end"]
        check("injected_failure_counted",
              rec["failed"] >= 1 and e2e["success_frac"] < 1.0
              and f"operation {FAIL_OP} failed" in log,
              f"{rec['failed']} of {rec['attempted']} failed, success_frac "
              f"{e2e['success_frac']:.3f}, cause printed: {f'operation {FAIL_OP} failed' in log}")
        res = os.path.join(work, "results")
        verdicts = run.oracle_check(os.path.join(work, "data"), res)
        check("oracle_accepts_results", all(v[0] for v in verdicts.values()),
              f"{sum(v[0] for v in verdicts.values())} of {len(verdicts)} equal")
        bad = os.path.join(work, "corrupted")
        shutil.copytree(res, bad)
        shutil.rmtree(os.path.join(bad, "tpch_q1_pricing_summary"))
        corrupt(os.path.join(res, "tpch_q1_pricing_summary"),
                os.path.join(bad, "tpch_q1_pricing_summary"))
        v = run.oracle_check(os.path.join(work, "data"), bad)
        check("oracle_rejects_corrupted_result",
              not v["tpch_q1_pricing_summary"][0]
              and all(ok for n, (ok, _) in v.items() if n != "tpch_q1_pricing_summary"),
              f"tpch_q1_pricing_summary: {v['tpch_q1_pricing_summary'][1]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(failed)} of {len(results)} self-tests passed")
    return 1 if failed else 0
