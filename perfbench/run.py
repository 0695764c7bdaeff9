#!/usr/bin/env python3
"""graft benchmark: one closed-loop client running one workload.

    python3 perfbench/run.py --workload eda --seed 1 --seconds 10 --trace 0

Builds graft and the harness (perfbench/build.py), generates the inputs
(perfbench/gen.py; reused while their data fingerprint matches), runs
the harness JVM on local[nproc], checks every operation's output against
perfbench/expected.json, and prints the metrics. The last stdout line is
one JSON object {correct, attempted, failed, metrics}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The lines
before it describe the run. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside .bench_build
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
WORKLOADS = ("eda", "curation")
MODULES = ("operators", "plans", "streaming", "text", "dedup", "similarity", "ml", "sources")
BASE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
CORPUS_TABLES = ["documents", "embeddings"]
# (data set, scale, copies, tables) per workload; --smoke shrinks all to sf0.001
DATA = {
    "eda": ("base", 0.01, 1, BASE_TABLES),
    "curation": ("corpus", 0.012, 5, CORPUS_TABLES),
}
PROBE_QUERIES = 32
TIMEOUT_S = 170


def load_json(path):
    with open(path) as f:
        return json.load(f)


def env_int(name, default, lo=1):
    """Integer from the environment; anything unparsable falls back."""
    raw = os.environ.get(name, "").strip()
    try:
        v = int(raw)
        return v if v >= lo else default
    except ValueError:
        if raw:
            print(f"# ignoring {name}={raw!r}: not an integer >= {lo}", file=sys.stderr)
        return default


def machine():
    """(cores, driver heap in GiB) from the machine: nproc, and half of
    MemTotal clamped to [2, 8] GiB; SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM
    (a whole number of GiB, optionally suffixed g) override them."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    heap = min(max(mem_kb // (2 * 1024 * 1024), 2), 8)
    cores = env_int("SPARK_GRAFT_CPUS", cores)
    mem = os.environ.get("SPARK_DRIVER_MEM", "").strip().lower().rstrip("g")
    heap = int(mem) if mem.isdigit() and int(mem) >= 1 else heap
    return cores, heap


def dataset(workload, smoke):
    name, sf, copies, tables = DATA[workload]
    if smoke:
        name, sf, copies = f"smoke-{name}", 0.001, min(copies, 2)
    d = os.path.join(OUT, "data", name)
    meta = os.path.join(d, "manifest.json")
    args = [sf, copies, tables, build.source_fp([gen.__file__])]
    if os.path.isfile(meta):
        m = load_json(meta)
        if m.get("args") == args and m.get("data_fp") == gen.data_fp(d):
            return d, m
    shutil.rmtree(d, ignore_errors=True)
    fp = gen.generate(d, sf, copies, tables)
    m = {"args": args, "data_fp": fp,
         "rows": {t: gen.pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows for t in tables},
         "bytes": {t: os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in tables}}
    with open(meta, "w") as f:
        json.dump(m, f)
    return d, m


def git_rev():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def sweep_stale_runs():
    """Remove run scratch dirs left by benchmark processes that died."""
    n = 0
    for e in os.listdir(OUT) if os.path.isdir(OUT) else []:
        if e.startswith("run-"):
            try:
                os.kill(int(e[4:]), 0)
                continue
            except (ValueError, ProcessLookupError):
                pass
            except PermissionError:
                continue
            shutil.rmtree(os.path.join(OUT, e), ignore_errors=True)
            n += 1
    return n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90_with_tail(xs):
    """The 90th percentile, or None unless at least ten samples lie above it."""
    s = sorted(xs)
    if not s:
        return None
    v = s[max(math.ceil(0.9 * len(s)) - 1, 0)]
    return v if sum(1 for x in s if x > v) >= 10 else None


def reduce(raw, workload, manifest):
    """Raw samples of the JVM -> (end-to-end metrics, per-layer metrics, facts)."""
    used = DATA[workload][3]
    in_rows = sum(manifest["rows"][t] for t in used)
    in_bytes = sum(manifest["bytes"][t] for t in used)
    passes = raw["passes"]
    steady = [p for p in passes if p["measured"]]
    plain = [p for p in steady if not p["traced"]] or steady
    traced = [p for p in steady if p["traced"]]
    plain_ids = {p["pass"] for p in plain}
    ops = raw["ops"]
    for o in ops:
        o["total_s"] = o["build_s"] + o["plan_s"] + o["exec_s"]
    op_s = [o["total_s"] for o in ops if o["pass"] in plain_ids and o["ok"]]
    per_op = {}
    for o in ops:
        if o["pass"] in plain_ids and o["ok"]:
            per_op.setdefault(o["name"], []).append(o["total_s"])
    op_gmean = statistics.geometric_mean([median(v) for v in per_op.values()]) if per_op else 0.0
    pass_s = median([p["wall_s"] for p in plain])
    setup = raw["setup"]
    attempted = len(ops) + len(raw["checks"])
    failed = sum(1 for o in ops if not o["ok"]) + sum(
        1 for c in raw["checks"] if c["got"] != c["want"])
    e2e = {
        "setup_s": (setup["total_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_gmean_s": (op_gmean, "s"),
        "rows_per_s": (in_rows / pass_s if pass_s > 0 else 0.0, "1/s"),
        "retained_mb": (raw["retained_mb"], "MB"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
    }
    layer = {
        "session.build_s": (setup["session_s"], "s"),
        "functions.register_s": (setup["register_s"], "s"),
        "tables.open_s": (setup["open_s"], "s"),
        "tables.input_bytes": (in_bytes, "bytes"),
        "tables.input_rows": (in_rows, "count"),
    }
    per_pass = {p["pass"]: [o for o in ops if o["pass"] == p["pass"]] for p in traced}

    def med_sum(pred, key):
        return median([sum(o.get(key, 0) for o in os_ if pred(o)) for os_ in per_pass.values()])

    units = {"build_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
             "task_cpu_s": "s", "gc_s": "s", "sched_delay_s": "s", "shuffle_bytes": "bytes",
             "spill_bytes": "bytes"}
    keys = {"task_cpu_s": "cpu_s"}
    for m in MODULES:
        for k, u in units.items():
            layer[f"{m}.{k}"] = (med_sum(lambda o, m=m: o["module"] == m, keys.get(k, k)), u)
    outb = raw["output_bytes"]
    layer["similarity.index_build_s"] = (med_sum(lambda o: o["name"] == "ivf_build", "total_s"), "s")
    layer["similarity.index_bytes"] = (outb.get("ivf_build", 0), "bytes")
    layer["similarity.probe_s"] = (med_sum(lambda o: o["name"] == "ivf_probe", "total_s"), "s")
    layer["similarity.recall_at5"] = (max(raw["recall_at5"], 0.0), "ratio")
    layer["sources.write_s"] = (med_sum(lambda o: o["name"].startswith("write_"), "exec_s"), "s")
    layer["sources.write_bytes"] = (sum(v for k, v in outb.items() if k.startswith("write_")), "bytes")
    layer["sources.read_s"] = (med_sum(lambda o: o["name"].startswith("read_"), "total_s"), "s")
    layer["calib_s"] = (raw["calib_s"], "s")
    # tracing overhead: traced against untraced steady passes
    t_med = median([p["wall_s"] for p in traced])
    p_med = median([p["wall_s"] for p in steady if not p["traced"]])
    layer["trace.overhead_frac"] = (t_med / p_med - 1.0 if traced and p_med > 0 else 0.0, "ratio")
    facts = {"attempted": attempted, "failed": failed, "op_p50_s": median(op_s), "op_samples": len(op_s),
             "setup": setup, "check_s": passes[0]["check_s"],
             "pass_walls": [[p["wall_s"], p["traced"]] for p in passes],
             "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
             "steady_passes": len(plain), "input_rows": in_rows, "input_bytes": in_bytes}
    p90 = p90_with_tail(op_s)
    if workload == "eda" and p90 is not None:
        facts["op_p90_s"] = p90
    return e2e, layer, facts


def declared(trace):
    """Metric names BENCHMARK.json declares for this mode, or None."""
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(p):
        return None
    b = load_json(p)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def expected_for(path, data_fp):
    if not os.path.isfile(path):
        return {}
    return load_json(path).get(data_fp, {})


def run_harness(cmd, budget):
    """Run the harness JVM; it is killed and waited for on timeout, error or SIGTERM."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=None, text=True)
    try:
        out, _ = p.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        raise SystemExit(f"perfbench: harness exceeded {budget:.0f} s")
    except BaseException:
        p.kill()
        p.wait()
        raise
    if p.returncode != 0:
        raise SystemExit(f"perfbench: harness exited {p.returncode}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true", help="tiny sf0.001 inputs (self-tests)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="expected output fingerprints, keyed by input data_fp")
    ap.add_argument("--record", action="store_true",
                    help="store this run's fingerprints in --expected instead of checking")
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    classes, src_fp = build.build()
    data, manifest = dataset(a.workload, a.smoke)
    started = time.time()
    cores, heap = machine()
    stale = sweep_stale_runs()
    scratch = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(scratch)
    spans = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    n_emb = manifest["rows"].get("embeddings", 0) // manifest["args"][1]
    probe = random.Random(a.seed).sample(range(n_emb), min(PROBE_QUERIES, n_emb))
    want = {} if a.record else expected_for(a.expected, manifest["data_fp"])
    try:
        with open(os.path.join(scratch, "expected.tsv"), "w") as f:
            f.writelines(f"{k}\t{v}\n" for k, v in want.items())
        opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
            "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
        jars = os.path.join(build.spark_jars(), "*")
        raw_path = os.path.join(scratch, "raw.json")
        cmd = ["java", *opens, f"-Xmx{heap}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", data, "--scratch", scratch,
               "--t0-ms", "%.3f" % (time.time() * 1000), "--cpus", str(cores),
               "--probe-ids", ",".join(map(str, probe)),
               "--expected", os.path.join(scratch, "expected.tsv"),
               "--raw", raw_path, "--spans", spans]
        run_harness(cmd, TIMEOUT_S - (time.time() - started))
        raw = load_json(raw_path)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    leftovers = stale + (1 if os.path.exists(scratch) else 0)
    if a.record:
        book = load_json(a.expected) if os.path.isfile(a.expected) else {}
        book.setdefault(manifest["data_fp"], {}).update({c["name"]: c["got"] for c in raw["checks"]})
        with open(a.expected, "w") as f:
            json.dump(book, f, indent=1, sort_keys=True)
            f.write("\n")
    e2e, layer, facts = reduce(raw, a.workload, manifest)
    measured = {p["pass"] for p in raw["passes"] if p["measured"]}
    for name in dict.fromkeys(o["name"] for o in raw["ops"]):
        ts = [o for o in raw["ops"] if o["name"] == name]
        st = [o for o in ts if o["pass"] in measured]
        print(f"# op {name}: cold {ts[0]['total_s']:.3f} s, steady median {median([o['total_s'] for o in st]):.3f} s "
              f"(build {median([o['build_s'] for o in st]):.3f}, plan {median([o['plan_s'] for o in st]):.3f}, "
              f"exec {median([o['exec_s'] for o in st]):.3f})")
    for c in raw["checks"]:
        if c["got"] != c["want"]:
            print(f"# check FAILED {c['name']}: got {c['got']!r} want {c['want']!r}")
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cores, **raw["info"], "driver_heap": f"{heap}g", "git_rev": git_rev(),
            "src_fp": src_fp, "data_fp": {os.path.relpath(data, ROOT): manifest["data_fp"]},
            "calib_s": raw["calib_s"], "leftovers": leftovers,
            "spans": os.path.relpath(spans, ROOT) if a.trace else None, **facts}
    print("# run " + json.dumps(info, sort_keys=True))
    chosen = layer if a.trace else e2e
    names = declared(a.trace)
    if names is not None and names != set(chosen):
        raise SystemExit(f"perfbench: metrics {sorted(set(chosen) ^ names)} differ from BENCHMARK.json")
    for k, (v, u) in chosen.items():
        print(f"# {k} = {v:.6g} {u}")
    print(json.dumps({"correct": facts["failed"] == 0 and all(c["want"] for c in raw["checks"]),
                      "attempted": facts["attempted"], "failed": facts["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
