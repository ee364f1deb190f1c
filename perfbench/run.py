#!/usr/bin/env python3
"""Benchmark of the user-profile engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):
  ingest_backlog  closed loop: large envelope chunks through StreamingEtl.start
                  into two keyed parquet sinks
  live_dashboard  open-loop writes at a fixed offered rate into one keyed sink,
                  with one dashboard client refreshing A1-A4 back to back
  batch_suite     a fixed list of SparkEntry.queries, one at a time, in an
                  order the seed permutes

The run builds the engine and the benchmark from source (perfbench/build.py),
generates the batch tables (perfbench/gen_tables.py), runs the JVM side
(perfbench/src) and prints a summary, then as its last line one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Every
output is checked; any failed check gives a non-zero exit. Artifacts land in
.bench_build/perfbench/results/<sha>/c<cores>/<workload>/seed<N>-trace<T>/.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_backlog", "live_dashboard", "batch_suite")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# The batch tables do not depend on the workload seed, so their digests can
# be committed in expected_digests.json.
DATA_SEED = 42
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def git_sha(stamp):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + stamp[:12]


def tables_dir():
    d = os.path.join(OUT, "data", f"tables-seed{DATA_SEED}")
    if not all(os.path.isfile(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), d,
                            "--seed", str(DATA_SEED)], capture_output=True, text=True, timeout=300)
        if r.returncode != 0:
            raise BenchError("table generation failed:\n" + r.stderr[-2000:])
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise BenchError(f"testdata directory {d} lacks tables {missing}")
    return d


def load_suite():
    with open(os.path.join(HERE, "suite.json")) as f:
        return [tuple(q) for q in json.load(f)["queries"]]


def expected_digests():
    path = os.path.join(HERE, "expected_digests.json")
    if not os.path.isfile(path):
        raise BenchError(f"{path} is missing")
    with open(path) as f:
        return json.load(f)


def java_command(classes, jars, work):
    """The JVM launch for the benchmark's classes, with every scratch
    directory Spark writes kept under `work`."""
    # A fixed heap keeps peak RSS from following the collector's resizing.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join([classes] + jars)]


def run_jvm(args, classes, jars, data, out, work, deadline):
    cmd = java_command(classes, jars, work)
    cmd += ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores()), "--data", data,
            "--work", work, "--out", out]
    if args.workload == "batch_suite":
        qs = load_suite()
        random.Random(args.seed).shuffle(qs)
        with open(os.path.join(out, "queries.txt"), "w") as f:
            f.write("\n".join(f"{n} {s}" for n, s in qs))
        cmd += ["--queries", os.path.join(out, "queries.txt")]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"the JVM did not finish within {RUN_LIMIT_S} s; see {out}/jvm.log")
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.isfile(raw_path):
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"the JVM exited with code {rc} and no result:\n{tail}")
    with open(raw_path) as f:
        return json.load(f)


# ---- metrics ---------------------------------------------------------------

def suite_walls(window):
    """Per query: median wall over the passes, and its subset."""
    by = {}
    for q in window["queries"]:
        if q["ok"]:
            by.setdefault(q["name"], (q["subset"], []))[1].append(q["wall_ms"])
    return {n: (s, stats.median(w)) for n, (s, w) in by.items()}


def end_to_end(workload, w):
    """The end-to-end metrics of one window, under the contract's names,
    plus the same figures under their workload-specific names."""
    if workload == "ingest_backlog":
        lat = w["batch_latency_ms"]
        e2e = {"throughput_per_s": w["rows_committed"] / w["wall_s"],
               "latency_ms": stats.median(lat), "latency_tail_ms": stats.percentile(lat, 90)}
        named = {"ingest_eps": (e2e["throughput_per_s"], "rows/s"),
                 "batch_latency_p50_ms": (e2e["latency_ms"], "ms"),
                 "batch_latency_p90_ms": (e2e["latency_tail_ms"], "ms"),
                 "batches": (len(lat), "count")}
    elif workload == "live_dashboard":
        fr = w["freshness_ms"]
        dash = [r["wall_ms"] for r in w["refreshes"]]
        e2e = {"throughput_per_s": 1000.0 / stats.median(dash),
               "latency_ms": stats.median(fr), "latency_tail_ms": stats.percentile(fr, 90)}
        named = {"freshness_p50_ms": (e2e["latency_ms"], "ms"),
                 "freshness_p90_ms": (e2e["latency_tail_ms"], "ms"),
                 "batches": (len(w["batches"]), "count"),
                 "dashboard_p50_ms": (stats.median(dash), "ms"),
                 "dashboard_p90_ms": (stats.percentile(dash, 90), "ms"),
                 "refreshes": (len(dash), "count"),
                 "offered_docs_per_s": (w["offered_docs_per_s"], "1/s"),
                 "committed_docs_per_s": (w["committed_docs"] / w["wall_s"], "1/s")}
    else:
        walls = suite_walls(w)
        ms = [v for _, v in walls.values()]
        tail = [v for s, v in walls.values() if s == "tail"]
        e2e = {"throughput_per_s": 1000.0 * len(ms) / sum(ms),
               "latency_ms": stats.geomean(ms), "latency_tail_ms": sum(tail) / len(tail)}
        named = {"suite_geomean_s": (e2e["latency_ms"] / 1000, "s"),
                 "suite_total_s": (sum(ms) / 1000, "s"),
                 "suite_tail_mean_s": (e2e["latency_tail_ms"] / 1000, "s"),
                 "queries": (len(ms), "count"), "passes": (w["passes"], "count")}
    return e2e, named


def _window_or_probe(raw, key):
    """The window's records under `key`, or the layer probe's when the
    workload does not exercise that layer."""
    w = raw["window"].get(key) or []
    return w if w else (raw["probe"] or {}).get(key) or []


def per_layer(raw, spans):
    m = {}
    w = raw["window"]
    probe = raw["probe"]
    phase = lambda p: [s for s in spans if s["phase"] == p]
    win, prb = phase("window"), phase("probe")

    def med(xs):
        return stats.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # sources
    gens = [s for s in win if s["name"] == "sources.generate"]
    docs = w.get("chunk_docs", 0)
    if not gens:
        gens, docs = [s for s in prb if s["req"] == "probe:chain" and s["name"] == "sources.generate"], probe["docs"]
    m["sources.gen_ms_per_1k"] = med([(s["end_ns"] - s["start_ns"]) / 1e6 / (docs / 1000) for s in gens])
    lag = w.get("lag_ms") or w.get("generator_wait_ms") or probe["generator_wait_ms"]
    m["sources.generator_lag_ms"] = stats.percentile(lag, 90)

    # ops: prefix chains over the probe's fixed batch
    c, k = probe["chain_ms"], probe["docs"] / 1000
    m["ops.parse_ms_per_1k"] = (c["parse"] - c["scan"]) / k
    m["ops.explode_ms_per_1k"] = (c["explode"] - c["parse"]) / k
    m["ops.flatten_ms_per_1k"] = (c["flatten"] - c["explode"]) / k
    m["ops.filter_ms_per_1k"] = (c["filter"] - c["flatten"]) / k
    m["ops.spine_1thread_eps"] = probe["docs"] / (c["filter"] / 1000)
    m["ops.rows_out_per_row_in"] = probe["rows_out"] / probe["docs"]

    # streaming and sinks
    batches = _window_or_probe(raw, "batches")
    # Spark reports whole milliseconds; the mean keeps their fraction.
    # latestOffset and getBatch stay in the per-batch records only: on
    # MemoryStream they read 0 ms at that resolution.
    for k in ("queryPlanning", "walCommit", "commitOffsets", "addBatch"):
        m[f"streaming.{k}_ms"] = mean([b["durations_ms"].get(k, 0) for b in batches])
    m["streaming.batches"] = len(batches)
    m["streaming.rows_per_batch"] = med([b["rows"] for b in batches])
    writes = [x for b in batches for x in b["writes_ms"]]
    m["sinks.write_ms"] = med(writes)
    for i in (0, 1):
        per = [b["writes_ms"][i] for b in batches if len(b["writes_ms"]) > i]
        if not per:
            per = [b["writes_ms"][i] for b in probe["batches"] if len(b["writes_ms"]) > i]
        m[f"sinks.write{i}_ms"] = med(per)
    m["sinks.fanout_overhead_ms"] = med([b["durations_ms"].get("addBatch", 0) - sum(b["writes_ms"])
                                         for b in batches])
    src = w if w.get("batches") else probe
    m["sinks.files_written"] = src["files_written"]
    m["sinks.bytes_written"] = src["bytes_written"]

    # dashboard
    refs = _window_or_probe(raw, "refreshes")
    scope = "window" if w.get("refreshes") else "probe"
    for k in ("read", "a1", "a2", "a3", "a4"):
        m[f"dashboard.{k}_ms"] = med([r[f"{k}_ms"] for r in refs])
    m["dashboard.files_listed"] = med([r["files_listed"] for r in refs])
    jobs = {}
    for e in raw["exec"]:
        sc, _, req = e["req"].partition("|")
        if sc == scope and req.startswith("refresh:"):
            jobs[req] = jobs.get(req, 0) + e["jobs"]
    m["dashboard.jobs_per_refresh"] = med([jobs.get(r["req"], 0) for r in refs])
    m["dashboard.refreshes"] = len(refs)

    # queries and exec, per suite query (window, else the probe's queries)
    qs = [q for q in _window_or_probe(raw, "queries") if q["ok"]]
    qscope = "window" if w.get("queries") else "probe"
    m["queries.build_ms"] = sum(q["build_ms"] for q in qs)
    m["exec.plan_ms"] = sum(q["plan_ms"] for q in qs)
    m["exec.run_ms"] = sum(q["run_ms"] for q in qs)
    reqs = {f"{qscope}|{q['req']}" for q in qs}
    m["queries.build_jobs"] = sum(e["jobs"] for e in raw["exec"] if e["req"] in reqs and e["step"] == "build")

    # exec counters over the window, without the benchmark's digest jobs
    ex = [e for e in raw["exec"] if e["req"].startswith("window|") and e["step"] != "digest"]
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = sum(e[k] for e in ex)
    m["exec.executor_cpu_s"] = sum(e["executor_cpu_ns"] for e in ex) / 1e9
    m["jvm.gc_ms"] = w["jvm_gc_ms"]

    # session and self time per layer from the spans
    m["session.build_ms"] = med([(s["end_ns"] - s["start_ns"]) / 1e6 for s in phase("setup")
                                 if s["name"] == "session.build"])
    own, fallback = stats.layer_self_ms(win), stats.layer_self_ms(prb)
    for layer in ("sources", "ops", "streaming", "sinks", "dashboard", "queries", "exec"):
        m[f"self_ms.{layer}"] = own.get(layer) or fallback.get(layer, 0.0)
    m["self_ms.session"] = stats.layer_self_ms(phase("setup")).get("session", 0.0)
    m["trace.spans"] = len(spans)
    return m


def suite_split(raw):
    """Per-layer sums over the sub-second (core + sample) and tail subsets."""
    w = raw["window"]
    ex = {}
    for e in raw["exec"]:
        if e["step"] != "digest":
            ex.setdefault(e["req"], []).append(e)
    out = {}
    for part, subsets in (("sub", ("core", "sample")), ("tail", ("tail",))):
        qs = [q for q in w["queries"] if q["ok"] and q["subset"] in subsets]
        es = [e for q in qs for e in ex.get(f"window|{q['req']}", [])]
        out[part] = {"queries": len(qs), "build_ms": sum(q["build_ms"] for q in qs),
                     "plan_ms": sum(q["plan_ms"] for q in qs), "run_ms": sum(q["run_ms"] for q in qs),
                     "build_jobs": sum(e["jobs"] for e in es if e["step"] == "build"),
                     **{k: sum(e[k] for e in es) for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                                                          "shuffle_write_bytes", "spill_bytes", "gc_ms")},
                     "executor_cpu_s": sum(e["executor_cpu_ns"] for e in es) / 1e9}
    return out


def check_digests(raw, failures, attempted):
    """batch_suite: each query's digest equals the committed one."""
    want = expected_digests()
    for q in raw["window"]["queries"]:
        if not q["ok"]:
            continue
        attempted += 1
        if want.get(q["name"]) != q["digest"]:
            failures.append(f"{q['name']}: digest {q['digest']} != expected {want.get(q['name'])}")
    return attempted


def tracing_overhead(out, seed, trace, e2e):
    """Each end-to-end metric of the traced run of this seed against its
    untraced run (traced / untraced - 1). Whichever of the two runs second
    computes it from the other's summary; None before both have run."""
    path = os.path.join(os.path.dirname(out), f"seed{seed}-trace{1 - trace}", "summary.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        other = json.load(f)["end_to_end"]
    traced, plain = (e2e, other) if trace else (other, e2e)
    return {k: traced[k] / plain[k] - 1.0 for k in traced if plain.get(k)}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    try:
        classes, stamp, jars = build.build()
        data = tables_dir()
    except (build.BuildError, BenchError) as e:
        sys.exit(f"perfbench: {e}")
    # The run limit starts after the build, which only the first run pays.
    deadline = time.time() + RUN_LIMIT_S
    key = os.path.join(git_sha(stamp), f"c{cores()}", args.workload, f"seed{args.seed}-trace{args.trace}")
    out = os.path.join(OUT, "results", key)
    work = os.path.join(OUT, "work", key)
    for d in (out, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    try:
        raw = run_jvm(args, classes, jars, data, out, work, deadline)
    except BenchError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(raw["failures"])
    attempted = raw["attempted"]
    if args.workload == "batch_suite":
        try:
            attempted = check_digests(raw, failures, attempted)
        except BenchError as e:
            sys.exit(f"perfbench: {e}")

    e2e, named = end_to_end(args.workload, raw["window"])
    e2e["setup_s"] = stats.median(raw["setup_s"])
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    summary = {"key": key, "workload": args.workload, "seed": args.seed, "cores": cores(),
               "seconds": args.seconds, "trace": args.trace, "end_to_end": e2e,
               "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
               "attempted": attempted, "failed": len(failures), "failures": failures,
               "failed_frac": len(failures) / attempted, "wall_s": time.time() - t_start,
               "tracing_overhead": tracing_overhead(out, args.seed, args.trace, e2e)}
    units = {"throughput_per_s": "1/s", "latency_ms": "ms", "latency_tail_ms": "ms",
             "setup_s": "s", "peak_rss_mb": "MB"}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    if args.trace:
        with open(os.path.join(out, "trace.jsonl")) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        spans = [r for r in recs if r["kind"] == "span"]
        layer = per_layer(raw, spans)
        summary["per_layer"] = layer
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    if args.workload == "batch_suite":
        summary["suite_split"] = suite_split(raw)
        summary["query_walls_ms"] = {n: v for n, (_, v) in suite_walls(raw["window"]).items()}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} cores={cores()} trace={args.trace} -> {out}")
    for k, v in summary["named"].items():
        print(f"  {k:<24} {v['value']:.6g} {v['unit']}")
    print(f"  {'failed_frac':<24} {summary['failed_frac']:.6g} ({len(failures)}/{attempted})")
    for k, v in e2e.items():
        print(f"  {k:<24} {v:.6g} {units[k]}")
    oh = summary["tracing_overhead"]
    print("  tracing overhead: " + (", ".join(f"{k} {v:+.1%}" for k, v in oh.items()) if oh else
                                    f"seed {args.seed} has not run both traced and untraced here yet"))
    for msg in failures:
        print(f"  FAILED {msg}", file=sys.stderr)
    for msg in raw["fatal"]:
        print(f"perfbench: run invalid: {msg}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


def layer_unit(name):
    if name.endswith("_ms") or name.endswith("_ms_per_1k") or name.startswith("self_ms."):
        return "ms"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name.endswith("_eps"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac") or name.endswith("per_row_in"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
