#!/usr/bin/env python3
"""Benchmark runner: builds the engine from source, generates the inputs,
runs one workload in a fresh JVM, checks its outputs and prints the metrics.

    python3 perfbench/run.py --workload sql-relational|sql-pipelines|lake-dml \\
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. The lines before it name every metric of the
workload with its unit, and every failed query or op. The exit code is 1
when an output check failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402
from stats import geomean, median, percentile, tail_percentile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("sql-relational", "sql-pipelines", "lake-dml")
# scale factor of the generated inputs, per workload
SCALE = {"sql-relational": 0.1, "sql-pipelines": 0.01, "lake-dml": 0.01}
DEADLINE_S = 170  # whole invocation, first-run build excluded


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def inputs(sf):
    """Generated fixture tables for scale `sf`, made once per checkout; the
    generator's own seed is fixed so that every run sees the same tables."""
    src = build.read(os.path.join(HERE, "gen_data.py"), "rb")
    d = os.path.join(build.BUILD, "data", f"sf{sf}")
    stamp = os.path.join(d, "stamp")
    want = hashlib.sha256(src).hexdigest()
    if not (os.path.exists(stamp) and build.read(stamp) == want):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, sf)
        with open(stamp, "w") as f:
            f.write(want)
    return os.path.abspath(d)


def query_list(workload, queries):
    if queries:
        return queries.split(",")
    with open(os.path.join(HERE, "queries.json")) as f:
        return json.load(f)["measured"][workload]


def run_jvm(a, data, out, deadline):
    # Spark's scratch (shuffle, spill, checkpoint blocks) and the JVM's
    # temporary files stay inside the checkout
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + build.java_opts() +
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.abspath(build.CLASSES) + ":" + build.jars_dir() + "/*",
            "perfbench.Runner", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--out", out])
    if a.workload != "lake-dml":
        cmd += ["--queries", ",".join(query_list(a.workload, a.queries))]
    if a.inject_fail:
        cmd += ["--inject-fail", a.inject_fail]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the runner JVM ran past its deadline")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        tail = build.read(os.path.join(out, "jvm.log"))[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: the runner JVM failed (exit {rc})")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_mismatches(data, verify_dir, names):
    """Compares each query's result with its DuckDB oracle through the
    repo's own scripts/check_oracle.py; returns {query: reason}."""
    r = subprocess.run([sys.executable, "scripts/check_oracle.py", data, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    passed, bad, in_fail = set(), {}, False
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            passed = set(line.split(":", 1)[1].split())
        elif line.startswith("FAIL "):
            in_fail = True
        elif in_fail and line.startswith("  ") and ":" in line:
            n, why = line.strip().split(":", 1)
            bad[n] = "OutputMismatch: oracle" + why
    for n in names:
        if n not in passed and n not in bad:
            bad[n] = "OutputMismatch: no oracle verdict"
    return bad


def charged_ms(samples, ms, timeout_s):
    """Latencies for the geometric mean: a failed query or op is charged the
    per-unit timeout, so that a failure never reads faster than a success."""
    return [ms(x) if x["ok"] else timeout_s * 1000.0 for x in samples]


def sql_metrics(res):
    untraced = [p["pass"] for p in res["passes"] if not p["traced"]]
    s = [x for x in res["samples"] if x["pass"] in untraced]
    walls = [x["wall_s"] for x in s]
    suite = median([p["wall_s"] for p in res["passes"] if not p["traced"]])
    return {
        "geomean_ms": (geomean(charged_ms(s, lambda x: x["wall_s"] * 1000, res["timeout_s"])), "ms"),
        # successes per second of all measured time, failed queries' too
        "ops_per_s": (sum(1 for x in s if x["ok"]) / max(sum(walls), 1e-9), "1/s"),
    }, {
        "suite_s": (suite, "s"),
        "query_p50_s": (percentile(walls, 50), "s"),
        "query_p80_s": (percentile(walls, 80), "s"),
        "samples": (len(walls), "count"),
        # highest percentile with ten samples beyond it; 0 when none has
        "tail_percentile": (tail_percentile(len(walls)) or 0, "pct"),
        "passes": (len(untraced), "count"),
    }


def lake_metrics(res):
    ops = [o for o in res["ops"] if o["phase"] == "measure"]
    ms = [o["ms"] for o in ops]
    done = sum(1 for o in ops if o["ok"])

    def kind(k, p=50):
        return percentile([o["ms"] for o in ops if o["kind"] == k], p)

    reads = [o["ms"] for o in ops if o["kind"] in ("select", "plan")]
    writes = [o["ms"] for o in ops if o["kind"] not in ("select", "plan")]
    extra = {
        "append_p50_ms": (kind("insert"), "ms"),
        "merge_p50_ms": (kind("merge"), "ms"),
        "delete_p50_ms": (kind("delete"), "ms"),
        "select_p50_ms": (kind("select"), "ms"),
        "plan_p50_ms": (kind("plan"), "ms"),
        "write_p90_ms": (percentile(writes, 90), "ms"),
        "read_p90_ms": (percentile(reads, 90), "ms"),
        "lake_ops_per_s": (done / res["window_s"], "1/s"),
        "space_amp": (res["space_amp"], "ratio"),
        "op_p50_ms": (percentile(ms, 50), "ms"),
        "ops": (len(ops), "count"),
        "tail_percentile": (tail_percentile(len(ops)) or 0, "pct"),
        "retries_per_write": (sum(o["retries"] for o in ops) / max(1, len(writes)), "ratio"),
    }
    return {
        "geomean_ms": (geomean(charged_ms(ops, lambda o: o["ms"], res["timeout_s"])), "ms"),
        # window_s holds the failed ops' time too
        "ops_per_s": (done / res["window_s"], "1/s"),
    }, extra


def finite(v):
    """JSON has no NaN: a statistic of no samples reads 0."""
    v = float(v if v is not None else 0.0)
    return v if math.isfinite(v) else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller, faster variants for the benchmark's own tests
    ap.add_argument("--queries", help="comma-separated query names (default: the frozen list)")
    ap.add_argument("--inject-fail", help="add a query of this name that always throws")
    ap.add_argument("--sf", type=float, help="input scale factor")
    ap.add_argument("--deadline-s", type=float, default=DEADLINE_S,
                    help="give up on the runner JVM after this many seconds")
    a = ap.parse_args(argv)
    t_start = time.time()

    bench = spec()
    build.build()
    deadline = time.time() + a.deadline_s
    data = inputs(a.sf or SCALE[a.workload])
    out = os.path.abspath(os.path.join(build.BUILD, "last", f"{a.workload}-trace{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(a, data, out, deadline)

    failures = dict(res["failures"])
    if a.workload == "lake-dml":
        e2e, extra = lake_metrics(res)
    else:
        # a query that threw in the result pass has no output to compare,
        # which fails its output check
        names = query_list(a.workload, a.queries) + ([a.inject_fail] if a.inject_fail else [])
        for n, why in oracle_mismatches(data, res["verify_dir"], names).items():
            failures[n] = why + (f" ({failures[n]})" if n in failures else "")
        e2e, extra = sql_metrics(res)
    attempted, failed = res["attempted"], len(failures)
    e2e["setup_s"] = (median(res["setup_s_samples"]), "s")
    extra["heap_live_mb"] = (res["heap_live_mb"], "MB")
    extra["rss_peak_mb"] = (res["rss_peak_mb"], "MB")
    extra["error_rate"] = (failed / attempted, "ratio")
    correct = not any(str(w).startswith("OutputMismatch") for w in failures.values())

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} "
          f"cpus {res['cpus']} ({time.time() - t_start:.1f} s)")
    for k, (v, u) in list(e2e.items()) + list(extra.items()):
        print(f"  {k:<22} {v:>14.6g} {u}")
    for n, why in failures.items():
        print(f"  FAILED {n}: {why}")

    if a.trace:
        layer = dict(res.get("per_layer", {}))
        for k, (v, _) in extra.items():
            layer.setdefault(f"ops.{k}", v)
        # a layer the workload does not touch reads 0
        metrics = {m["name"]: {"value": finite(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for k, v in sorted(layer.items()):
            print(f"  {k:<30} {v:>14.6g}")
    else:
        metrics = {m["name"]: {"value": finite(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
