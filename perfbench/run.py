#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <queries|index_churn> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine from source (`perfbench/build.py`), generates the
fixed sf0.1 input tables once per checkout (`perfbench/gen_data.py`),
writes the seeded operation log (`perfbench/oplog.py`), runs it in one
JVM as a closed loop with one client (`perfbench.Main`), checks every
answer, and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see perfbench/README.md). The full record of a run
(raw requests, failures, environment, operation log, spans) is kept in
`.bench_out/<workload>-seed<n>-trace<t>/`.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import oplog  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("queries", "index_churn")
CORES = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 170
MODULES = ("functions", "dedup", "similarity", "multimodal")
RETRIEVAL_ENTRIES = ("writeIndex", "appendBatch", "deleteBatch", "maintainIncremental", "bm25TopK", "bm25TopKAfter")
IVF_ENTRIES = ("writeIvfIndex", "appendIvfBatch", "deleteIvfBatch", "maintainIvfIncremental", "ivfTopK")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units():
    u = {
        "plans.plan_ms": "ms", "plans.graft_rule_ms": "ms", "operators.build_ms": "ms",
        "sources.input_bytes": "bytes", "sources.files_read": "count", "sources.dir_listings": "count",
        "sources.rows_examined_per_row": "ratio",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.driver_ms": "ms", "spark.sched_wait_ms": "ms", "spark.task_busy_ms": "ms",
        "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms", "spark.core_util": "ratio",
        "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    }
    for m in MODULES:
        u[f"{m}.op_ms"] = "ms"
        u[f"{m}.task_cpu_ms"] = "ms"
    for mod, entries in (("retrieval", RETRIEVAL_ENTRIES), ("similarity", IVF_ENTRIES)):
        for e in entries:
            u[f"{mod}.{e}.ms"] = "ms"
            u[f"{mod}.{e}.jobs"] = "count"
            u[f"{mod}.{e}.bytes_written"] = "bytes"
        u[f"{mod}.files_per_bucket_max"] = "count"
        u[f"{mod}.tombstones"] = "count"
    u.update({
        "index.search_p50_ms": "ms", "index.search_p90_ms": "ms", "index.write_p50_ms": "ms",
        "index.maintain_p50_ms": "ms", "index.write_amp": "ratio", "index.space_amp": "ratio",
        "trace.overhead_ms": "ms", "error_rate": "ratio",
    })
    return u


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300

    def nz(v):
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1.0) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1.0))):
            d = 1.0 / nz(1.0 + aa * d)
            c = nz(1.0 + aa / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(xs, p):
    """Harrell-Davis estimate of the p-th percentile (0 for no samples):
    a Beta-weighted mean of all order statistics. A run holds a few
    dozen requests of different kinds, and a single order statistic
    jumps from one kind to the next between runs; the weighted form
    moves smoothly."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    n = len(xs)
    q = p / 100.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def ensure_data(root):
    """The fixed input tables, generated once per checkout and keyed by
    the generator's own content so a changed generator regenerates."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(root, build.BUILD_DIR, "data", key, "sf0.1")
    if not os.path.isdir(data):
        gen_data.main(data)
    return data


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown: not a git checkout"
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(classpath, workload, log_path, data, work, result_path, seconds, trace, log):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(work, classpath) + [
        "perfbench.Main", workload, log_path, data, work, result_path, str(seconds), str(trace), str(CORES)]
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {log}")
    if r.returncode != 0:
        raise SystemExit(f"benchmark JVM failed with exit code {r.returncode}; see {log}")


def oracle_check(res, data, cache_dir):
    """Mark every request of a query whose checked answer disagrees with
    the DuckDB oracle, or that has nothing to check it against, as failed.
    Returns {query: status}."""
    answers = oracle.answers(data, res["oracle_sql"], cache_dir)
    status = {}
    for q, fp in res["reference"].items():
        if q in answers:
            status[q] = "oracle ok" if answers[q] == fp else f"oracle mismatch: engine {fp} vs oracle {answers[q]}"
        elif q in res["twin_checked"]:
            failed = any(f["request"] == q for f in res["failures"])
            status[q] = "exact twin: " + ("failed" if failed else "ok")
            continue
        else:
            status[q] = "no oracle and no exact twin: unchecked"
        if status[q] != "oracle ok":
            res["failures"].append({"request": q, "reason": status[q]})
            for r in res["requests"]:
                if r["name"] == q:
                    r["ok"] = False
                    r["error"] = status[q]
    return status


def index_oracle_check(res, data):
    """The fresh build's final BM25 answers against DuckDB over the
    surviving documents. Returns {term list: status}."""
    status = {}
    for a in res.get("final_bm25", []):
        got = [(int(d), float(v)) for d, v in a["rows"]]
        want = oracle.bm25_topk(data, a["terms"], res["survivors"], a["k"])
        key = ",".join(a["terms"])
        status[key] = "oracle ok" if got == want else f"oracle mismatch: fresh build {got} vs DuckDB {want}"
        if got != want:
            res["failures"].append({"request": f"final bm25TopK[{key}]", "reason": status[key]})
    return status


def cycle_write_amp(res):
    """Index bytes written per user byte ingested, per cycle and
    cumulative over the timed cycles."""
    out, user, written = [], 0, 0
    for c in res.get("cycle_writes", []):
        row = {"cycle": c["cycle"], "write_amp": c["written_bytes"] / max(1, c["user_bytes"])}
        if c["cycle"].startswith("cycle"):
            user += c["user_bytes"]
            written += c["written_bytes"]
            row["cumulative"] = written / max(1, user)
        out.append(row)
    return out


def end_to_end(res):
    reqs = [r for r in res["requests"] if not r["traced"]]
    ok = [r["ms"] for r in reqs if r["ok"]]
    spent_s = sum(r["ms"] for r in reqs) / 1000.0
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_p50_ms": percentile(ok, 50),
        "latency_p90_ms": percentile(ok, 90),
        "ops_per_s": len(ok) / spent_s if spent_s > 0 else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res):
    traced = [r for r in res["requests"] if r["traced"] and r["ok"]]
    plain = [r for r in res["requests"] if not r["traced"] and r["ok"]]

    def mean(key, rs=traced):
        return sum(r.get(key, 0.0) for r in rs) / max(1, len(rs))

    m = {
        "plans.plan_ms": mean("plan_ms"),
        "plans.graft_rule_ms": mean("graft_rule_ms"),
        "operators.build_ms": mean("build_ms"),
        "sources.input_bytes": mean("input_bytes"),
        "sources.files_read": mean("files_read"),
        "sources.dir_listings": mean("dir_listings"),
        "sources.rows_examined_per_row": sum(r.get("input_records", 0.0) for r in traced)
        / max(1, sum(r["rows"] for r in traced)),
    }
    for k in ("jobs", "stages", "tasks", "driver_ms", "sched_wait_ms", "task_busy_ms", "task_cpu_ms",
              "gc_ms", "core_util", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = mean(k)
    for mod in MODULES:
        rs = [r for r in traced if r["module"] == mod]
        m[f"{mod}.op_ms"] = mean("ms", rs)
        m[f"{mod}.task_cpu_ms"] = mean("task_cpu_ms", rs)
    extra = res["extra"]
    for mod, entries in (("retrieval", RETRIEVAL_ENTRIES), ("similarity", IVF_ENTRIES)):
        for e in entries:
            for k in ("ms", "jobs", "bytes_written"):
                m[f"{mod}.{e}.{k}"] = extra.get(f"{mod}.{e}.{k}", 0.0)
        m[f"{mod}.files_per_bucket_max"] = extra.get(f"{mod}.files_per_bucket_max", 0.0)
        m[f"{mod}.tombstones"] = extra.get(f"{mod}.tombstones", 0.0)
    m.update(index_metrics(res, plain))
    m["trace.overhead_ms"] = percentile([r["ms"] for r in traced], 50) - percentile([r["ms"] for r in plain], 50)
    attempted = len(res["requests"])
    m["error_rate"] = sum(1 for r in res["requests"] if not r["ok"]) / max(1, attempted)
    return m


def index_metrics(res, reqs):
    by = {k: [r["ms"] for r in reqs if r["kind"] == k] for k in ("search", "write", "maintain")}
    extra = res["extra"]
    return {
        "index.search_p50_ms": percentile(by["search"], 50),
        "index.search_p90_ms": percentile(by["search"], 90),
        "index.write_p50_ms": percentile(by["write"], 50),
        "index.maintain_p50_ms": percentile(by["maintain"], 50),
        "index.write_amp": extra.get("index.write_amp", 0.0),
        "index.space_amp": extra.get("index.space_amp", 0.0),
    }


def main():
    # a terminated run still stops its JVM: subprocess.run kills the child
    # when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    build.sources(root)  # no engine sources: fail before generating anything
    data = ensure_data(root)
    classpath = build.build(root)
    out_dir = os.path.join(root, ".bench_out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    log_path = os.path.join(out_dir, "oplog.tsv")
    with open(log_path, "w") as f:
        f.write(oplog.generate(a.workload, a.seed, data))

    work = os.path.join(root, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(out_dir, "result.json")
    try:
        run_jvm(classpath, a.workload, log_path, data, work, result_path, a.seconds, a.trace,
                os.path.join(out_dir, "jvm.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    with open(result_path) as f:
        res = json.load(f)

    checks = oracle_check(res, data, os.path.join(root, build.BUILD_DIR, "oracle"))
    checks.update(index_oracle_check(res, data))
    units = per_layer_units()
    values = per_layer(res) if a.trace else end_to_end(res)
    metrics = {k: {"value": v, "unit": END_TO_END.get(k) or units[k]} for k, v in values.items()}
    attempted = len(res["requests"])
    failed = sum(1 for r in res["requests"] if not r["ok"])
    correct = failed == 0 and not res["failures"]
    env = dict(res["env"], git_commit=git_commit(root), python=sys.version.split()[0])
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / max(1, attempted),
        "failures": res["failures"], "checks": checks, "metrics": metrics,
        "extra": res["extra"], "setup_s": res["setup_s"],
        "requests_per_kind": {k: sum(1 for r in res["requests"] if r["kind"] == k)
                              for k in sorted({r["kind"] for r in res["requests"]})},
        "index_churn": index_metrics(res, [r for r in res["requests"] if r["ok"] and not r["traced"]])
        if a.workload == "index_churn" else None,
        "write_amp_per_cycle": cycle_write_amp(res),
        "env": env,
    }
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for fl in res["failures"]:
        print(f"FAILED {fl['request']}: {fl['reason']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
