"""graft benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark JVM (build.py),
generates the workload's seeded inputs (gen.py), runs that JVM,
checks every output (check.py) and prints, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. See perfbench/README.md for what each metric means.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
# per workload, the sample kinds that throughput and latency come from:
# ingest jobs (pages/s, job latency); refresh reader requests (requests/s)
# and batches (freshness)
PRIMARY = {"ingest": ("op", "op"), "refresh": ("read", "fresh")}


def benchmark_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def percentile(values, q):
    """The q-th percentile, or None when fewer than ten samples lie beyond
    it (the highest percentile reported is one with ten samples past it)."""
    if not values or len(values) * (1 - q / 100.0) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run_jvm(out, workload, run_dir, seconds, trace):
    cmd = build.java(os.path.join(out, "bench.jar"), *build.HEAP, f"-Djava.io.tmpdir={run_dir}",
                     "perfbench.Main", workload, run_dir, str(seconds), str(trace),
                     archive=os.path.join(out, "cds.jsa"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(os.path.join(run_dir, "out", "result.json")) as f:
        return json.load(f)


def primary(workload, phase):
    """Throughput and median latency (ms) of one phase. Throughput is units
    of work per second spent in the operations that did them: pages per
    second of ingest jobs, requests per second of the closed-loop reader."""
    thr_kind, lat_kind = PRIMARY[workload]
    ok = [s for s in phase["samples"] if s["ok"]]
    thr = [s for s in ok if s["kind"] == thr_kind]
    lat = [s["ms"] for s in ok if s["kind"] == lat_kind]
    busy_s = sum(s["ms"] for s in thr) / 1000
    return (sum(s["n"] for s in thr) / busy_s if busy_s else None,
            statistics.median(lat) if lat else None, len(lat))


def self_times(spans):
    """Per span name: total duration minus the time its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["t0_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0_ns"]):
            lo, hi = max(c["t0_ns"], end), min(c["t1_ns"], s["t1_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["name"]] = out.get(s["name"], 0) + (s["t1_ns"] - s["t0_ns"] - covered) / 1e6
    return out


def layer_metrics(workload, res, spec):
    """Every per-layer metric; layers that do no work here read 0 and are
    listed as absent."""
    plain, traced = res["phases"]
    c = res["counters"]
    lay = res.get("layers", {})
    ops = max(1, len([s for s in traced["samples"] if s["kind"] == PRIMARY[workload][1]]))
    cores = res["env"]["cores"]
    m = {
        "catalyst.analysis_ms": c.get("analysis_ms", 0) / ops,
        "catalyst.optimization_ms": c.get("optimization_ms", 0) / ops,
        "catalyst.planning_ms": c.get("planning_ms", 0) / ops,
        "codegen.compile_ms": c.get("codegen_compile_ns", 0) / 1e6 / ops,
        "codegen.classes": c.get("codegen_classes", 0) / ops,
        "sched.jobs": c.get("jobs", 0) / ops, "sched.stages": c.get("stages", 0) / ops,
        "sched.tasks": c.get("tasks", 0) / ops, "sched.delay_ms": c.get("sched_delay_ms", 0) / ops,
        "sched.busy_ratio": c.get("run_ms", 0) / (traced["wall_s"] * 1000 * cores),
        "exec.run_ms": c.get("run_ms", 0) / ops, "exec.cpu_ms": c.get("cpu_ns", 0) / 1e6 / ops,
        "exec.gc_ms": c.get("gc_ms", 0) / ops,
        "shuffle.write_bytes": c.get("shuffle_write_bytes", 0) / ops,
        "shuffle.read_bytes": c.get("shuffle_read_bytes", 0) / ops,
        "shuffle.fetch_wait_ms": c.get("fetch_wait_ms", 0) / ops,
        "spill.disk_bytes": c.get("spill_disk_bytes", 0) / ops,
        "cache.blocks_stored": c.get("blocks_stored", 0) / ops,
        "cache.bytes_stored": c.get("block_bytes", 0) / ops,
    }
    m.update({k: v for k, v in lay.items() if k != "hits"})
    spans = res.get("spans", [])
    per_req = {}
    for s in spans:
        if s["name"] in ("query.compile", "query.exec"):
            per_req.setdefault((s["req"], s["name"]), 0)
            per_req[(s["req"], s["name"])] += (s["t1_ns"] - s["t0_ns"]) / 1e6
    for name in ("query.compile", "query.exec"):
        v = [ms for (r, n), ms in per_req.items() if n == name]
        if v:
            m[f"{name}_ms"] = statistics.median(v)
    requests = [s for s in traced["samples"] if s["kind"] == "read" and s["ok"]]
    if requests:
        m["query.rows_examined_per_hit"] = c.get("req_rows", 0) / max(1, lay.get("hits", 0))
        for k in ("jobs", "stages", "tasks"):
            m[f"query.{k}_per_request"] = c.get(f"req_{k}", 0) / len(requests)
    if workload == "refresh":
        late = [s["ms"] for p in res["phases"] for s in p["samples"] if s["kind"] == "late"]
        m["refresh.gen_late_max_ms"] = max(late) if late else 0.0
        fresh = [s["ms"] for p in res["phases"] for s in p["samples"] if s["kind"] == "fresh" and s["ok"]]
        m["refresh.fresh_p80_ms"] = percentile(fresh, 80)
    t_plain, l_plain, _ = primary(workload, plain)
    t_traced, l_traced, _ = primary(workload, traced)
    if t_plain is not None and t_traced is not None:
        m["trace.overhead_throughput_per_s"] = t_traced - t_plain
    if l_plain is not None and l_traced is not None:
        m["trace.overhead_latency_ms"] = l_traced - l_plain
    for k in ("before", "during", "after"):
        m[f"canary.{k}_ms"] = res["canary_ms"].get(k)
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    absent = sorted(k for k in units if m.get(k) is None)
    print("absent (layer does no work in this workload): " + ", ".join(absent))
    extra = sorted(set(m) - set(units))
    if extra:
        raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {extra}")
    return {k: {"value": float(m.get(k) or 0.0), "unit": u} for k, u in units.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)
    spec = benchmark_spec()
    out_dir = build.build(".")
    with open(os.path.join(out_dir, "registry_names.json")) as f:
        names = json.load(f)
    run_dir = os.path.abspath(os.path.join(build.build_root(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        man = gen.make_inputs(a.workload, a.seed, a.seconds, run_dir, names, registry=bool(a.trace))
        print(f"inputs generated in {time.time() - t0:.1f}s")
        res = run_jvm(out_dir, a.workload, run_dir, a.seconds, a.trace)
        out = os.path.join(run_dir, "out")
        bad, checks = verify(a.workload, res, man, out, run_dir)
        samples = [s for p in res["phases"] for s in p["samples"] if s["kind"] != "late"]
        attempted = len(samples) + checks
        failed = sum(1 for s in samples if not s["ok"]) + len(bad)
        env = res["env"]
        print(f"env: nproc {env['nproc']}, cores {env['cores']}, heap {env['heap_mb']} MB, "
              f"spark {env['spark']}; canary ms {res['canary_ms']}")
        for msg in bad[:10]:
            print("CHECK FAILED: " + msg)
        if a.trace:
            spans = res.get("spans", [])
            trace_path = os.path.join(build.build_root(), "traces", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
            st = {k: round(v, 1) for k, v in sorted(self_times(spans).items())}
            print(f"span self time ms (total over the traced half): {st}; spans in {trace_path}")
            metrics = layer_metrics(a.workload, res, spec)
        else:
            thr, lat, n_lat = primary(a.workload, res["phases"][0])
            if lat is None or thr is None:
                raise SystemExit("no successful operation to time")
            print(f"latency samples: {n_lat}; setup runs s: {res['setup_s']}, session s: {res['session_s']:.2f}")
            late = [s["ms"] for s in res["phases"][0]["samples"] if s["kind"] == "late"]
            if late:
                # an open-loop generator that falls behind makes the run invalid
                print(f"generator lateness max {max(late):.1f} ms over {len(late)} batches")
            metrics = {
                "setup_s": {"value": res["session_s"] + statistics.median(res["setup_s"]), "unit": "s"},
                "throughput_per_s": {"value": thr, "unit": "1/s"},
                "latency_ms": {"value": lat, "unit": "ms"},
                "peak_rss_mb": {"value": env["peak_rss_mb"], "unit": "MB"},
            }
            names_e2e = [m["name"] for m in spec["end_to_end"]]
            assert sorted(metrics) == sorted(names_e2e), (sorted(metrics), names_e2e)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def verify(workload, res, man, out, run_dir):
    """Failure messages of every output check, and the number of checked
    operations that are not timed samples (the re-run search requests and
    the registry queries of traced runs)."""
    if workload == "ingest":
        return check.ingest(check.read_jsonl(os.path.join(out, "ingest_ops.jsonl")), man), 0
    dropped = check.read_jsonl(os.path.join(out, "refresh_dropped.jsonl"))
    bad = check.refresh(res["refresh"], man["batches"]["per_batch"], dropped)
    samples = check.read_jsonl(os.path.join(out, "search_samples.jsonl"))
    pages = [os.path.join(run_dir, "in", "batches", f) for f in sorted(set(res["refresh"]["committed"]))]
    bad += check.search(samples, man["queries"], pages)
    extra = len(samples)
    if "registry" in res:
        reg = res["registry"]
        bad += [f"registry {n}: failed" for n in reg["failed"]]
        bad += check.registry(reg["checked"], out, os.path.join(run_dir, "in", "corpus"))
        extra += reg["attempted"]
    return bad, extra


if __name__ == "__main__":
    main()
