#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), sets up the
workload's inputs from the seed, runs one closed-loop client in one JVM
(perfbench/harness), checks every output against DuckDB outside the timed
region, and prints one JSON line per run. The last line holds exactly
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the detail (seed, host-noise witness, sample counts). With --trace 1 the
metrics are the per-layer ones and the spans land in
.bench_out/<workload>-s<seed>-t1/spans.jsonl. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

CONTROLS = "q00_select_one,q25_page_offset,q26_limit_head"
# Members of the frozen Bench.core50 set (README: why these eight)
CORE50 = [
    "q02_filter_range", "q06_group_measures", "q17_regex_extract",
    "q23_running_total", "q53_minhash_band_pairs", "q87_decontaminate",
    "q103_tfidf_topterms", "q130_substring_dedup",
]
READBACK = {
    "rb_filter_project":
        "SELECT domain, date, term, url, rank, volume FROM rankings_bulk "
        "WHERE rank <= 10 AND volume >= 25000000 AND cpc >= 5.0 "
        "ORDER BY domain, date, term, url, rank, volume",
    "rb_page_offset":
        "SELECT domain, date, term, url, rank, volume, cpc "
        "FROM rankings_stream ORDER BY volume DESC, cpc DESC, domain, "
        "term, url, date, rank LIMIT 100 OFFSET 1000",
    "rb_topk_per_domain":
        "SELECT domain, term, url, volume, rk FROM (SELECT domain, term, "
        "url, volume, CAST(row_number() OVER (PARTITION BY domain ORDER BY "
        "volume DESC, cpc DESC, term, url, date, rank) AS INT) AS rk "
        "FROM rankings_bulk) t WHERE rk <= 5 ORDER BY domain, rk",
}
WORKLOADS = {
    "core50_sf01": dict(kind="queries", queries=CORE50, min_sweeps=3),
    "rankings_ingest": dict(kind="ingest", min_sweeps=8,
                            rows=360000, days=12, shards=24, chunks=3,
                            files_per_trigger=8, target_bytes=128 << 20),
}
DATA = HERE / "data" / "sf0.1"
HEAP = "2g"
HARNESS_TIMEOUT_S = 150
# query_tail_s: the highest percentile of the steady samples that still has
# 10 samples beyond it, i.e. the 11th largest
TAIL_BEYOND = 10
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def declared_metrics(trace):
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def cores():
    return len(os.sched_getaffinity(0))


def harness(classes, conf, work):
    """Run the harness JVM on `conf`; return its result dict, with the
    JVM's wall seconds as `jvm_s`."""
    path = work / "harness.properties"
    path.write_text("".join(f"{k}={v}\n" for k, v in conf.items()))
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
    cmd += ["-cp", build.classpath(classes), "perfbench.Harness", str(path)]
    log = work / f"harness-{conf['mode']}.log"
    t0 = time.perf_counter()
    with open(log, "w") as f:
        r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                           timeout=HARNESS_TIMEOUT_S)
    if r.returncode != 0:
        tail = log.read_text()[-3000:]
        raise RuntimeError(f"harness exited {r.returncode}:\n{tail}")
    res = json.loads((Path(conf["out"]) / "result.json").read_text())
    res["jvm_s"] = time.perf_counter() - t0
    return res


def min_sweeps(wl, args):
    """A traced run alternates traced and untraced sweeps: it needs an even
    count, at least two of each."""
    n = wl["min_sweeps"]
    return max(4, n + n % 2) if args.trace else n


def verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", ROOT / "tools" / "verify_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(data, dumps, queries):
    """Compare the dumps with DuckDB by tools/verify_local.py's rules.
    Returns the names of the queries that did not pass."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        verify_local().main(str(data), str(dumps))
    passed = set()
    for line in buf.getvalue().splitlines():
        if line.startswith(("PASS ", "BOUNDS-PASS ")):
            passed.update(line.split(":", 1)[1].split())
    bad = [q for q in queries if q not in passed]
    if bad:
        print(buf.getvalue(), file=sys.stderr)
    return bad


def answer_hashes(dumps, queries):
    """SHA-256 of each query's result rows, so runs can be compared."""
    import duckdb
    con = duckdb.connect()
    return {q: hashlib.sha256(repr(rows_of(con.execute(
        f"SELECT * FROM read_parquet('{dumps}/{q}/*.parquet')"
    ).fetch_arrow_table())).encode()).hexdigest() for q in queries}


def rows_of(table):
    cols = sorted(table.column_names)
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))


def readback_check(work, dumps):
    """Read-back answers against DuckDB over the CSV shards."""
    import duckdb
    con = duckdb.connect()
    csv = f"{work}/csv/*.csv"
    cols = ("{'domain': 'VARCHAR', 'date': 'DATE', 'term': 'VARCHAR', "
            "'url': 'VARCHAR', 'rank': 'INTEGER', 'volume': 'BIGINT', "
            "'cpc': 'DOUBLE'}")
    for t in ("rankings_bulk", "rankings_stream"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{csv}', "
                    f"header = true, columns = {cols})")
    bad = []
    for q, sql in READBACK.items():
        want = rows_of(con.execute(sql).fetch_arrow_table())
        got = rows_of(con.execute(
            f"SELECT * FROM read_parquet('{dumps}/{q}/*.parquet')"
        ).fetch_arrow_table())
        if want != got or not want[1]:
            bad.append(q)
    return bad


def query_workload(name, wl, args, classes, work, out):
    dumps = work / "dumps"
    conf = dict(mode="queries", workload=name, cores=cores(), seed=args.seed,
                seconds=args.seconds, trace=args.trace, data=DATA,
                queries=",".join(wl["queries"]), controls=CONTROLS,
                min_sweeps=min_sweeps(wl, args), warehouse=work / "warehouse",
                local=work / "local", out=out, dumps=dumps)
    res = harness(classes, conf, work)
    t0 = time.perf_counter()
    bad = oracle_check(DATA, dumps, wl["queries"])
    res["answer_sha256"] = answer_hashes(dumps, wl["queries"])
    res["check_s"] = time.perf_counter() - t0
    return res, len(wl["queries"]), bad


def ingest_workload(name, wl, args, classes, work, out):
    dumps = work / "dumps"
    conf = dict(mode="ingest", workload=name, cores=cores(), seed=args.seed,
                seconds=args.seconds, trace=args.trace, work=work,
                rows=wl["rows"], days=wl["days"], shards=wl["shards"],
                chunks=wl["chunks"], files_per_trigger=wl["files_per_trigger"],
                target_bytes=wl["target_bytes"],
                readback=";;".join(f"{k}={v}" for k, v in READBACK.items()),
                data=DATA, controls=CONTROLS,
                min_sweeps=min_sweeps(wl, args), warehouse=work / "warehouse",
                local=work / "local", out=out, dumps=dumps)
    res = harness(classes, conf, work)
    t0 = time.perf_counter()
    bad = []
    n = res["generated_rows"]
    for i, rows in enumerate(res["table_rows"]):
        if rows != n:
            bad.append(f"table {i} holds {rows} rows, generated {n}")
    if res["rerun_rows"] != 0:
        bad.append(f"re-run ingested {res['rerun_rows']} rows")
    if res["hash_before"] != res["hash_after"]:
        bad.append("compaction changed the table hash")
    bad += readback_check(work, dumps)
    res["check_s"] = time.perf_counter() - t0
    return res, 4 + len(READBACK), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    try:
        classes = build.build()
    except Exception as e:  # noqa: BLE001
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    wl = WORKLOADS[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    out = ROOT / ".bench_out" / tag
    shutil.rmtree(out, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run = query_workload if wl["kind"] == "queries" else ingest_workload
        res, checks, bad = run(args.workload, wl, args, classes, work, out)
    except Exception as e:  # noqa: BLE001
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    samples = sorted((t for ts in res["steady"].values() for t in ts),
                     reverse=True)
    k = min(TAIL_BEYOND + 1, len(samples))
    errors = res["errors"]
    attempted = res["attempted"] + checks
    failed = len(errors) + len(bad)
    if args.trace:
        values = dict(res["layers"], peak_rss_mb=res["peak_rss_mb"])
    else:
        values = {
            "setup_s": res["setup_s"],
            "steady_total_s": sum(statistics.median(ts)
                                  for ts in res["steady"].values()),
            # the write path's first pass is part of rankings_ingest's cold
            "cold_total_s": (sum(res["cold"].values()) +
                             sum(res.get("pipeline", {}).values())),
            "query_p50_s": statistics.median(samples),
            "query_tail_s": samples[k - 1],
        }
    declared = declared_metrics(args.trace)
    if set(values) != set(declared):
        print(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(declared))}",
              file=sys.stderr)
        return 1
    metrics = {m: {"value": values[m], "unit": u} for m, u in declared.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "sweeps": res["sweeps"],
        "steady_samples": len(samples),
        "query_tail_rank": f"{k}-th largest of {len(samples)} "
                           f"(percentile {100 * (1 - (k - 1) / len(samples)):.1f})",
        "error_rate": failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
        "errors": errors, "check_failures": bad,
        "host_witness": {
            "controls_median_s": {q: statistics.median(ts)
                                  for q, ts in res["controls"].items()},
            "calibration_median_s": statistics.median(res["calibration_s"]),
        },
        "cold_s": res["cold"],
        "steady_median_s": {q: statistics.median(ts)
                            for q, ts in res["steady"].items()},
    }
    for key in ("jvm_s", "check_s", "pipeline", "ingest", "generated_rows",
                "csv_bytes", "answer_sha256"):
        if key in res:
            detail[key] = res[key]
    out.mkdir(parents=True, exist_ok=True)
    (out / "detail.json").write_text(json.dumps(detail, indent=1))
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
