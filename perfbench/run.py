#!/usr/bin/env python3
"""End-to-end benchmark of the medallion load, its CDC epochs, the
curation chain and vector-index CDC.

    python3 perfbench/run.py --workload sales_cdc --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`) into the checkout and caches the class
path under `.bench_build/`, keyed by a digest of the sources. Each run
starts one JVM with Spark `local[N]` (N = min(4, nproc)), which
generates the seeded inputs and drives the engine (`Main.scala`); this
script then checks the engine's final state against DuckDB
(`oracle.py`), prints a report, and prints one JSON result as the last
line of stdout. It exits non-zero on a failed operation or check.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs a traced
pass and reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sales_cdc", "curate")
LAYERS = ("ingest", "silver", "scd1", "fact", "clean", "quality", "dedup",
          "decontam", "split", "tokenize", "pack", "ivf.upsert", "ivf.search",
          "hnsw.upsert", "hnsw.search")
LAYER_METRICS = (("wall_s", "s", "lower"), ("jobs", "count", "lower"),
                 ("cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
                 ("shuffle_bytes", "bytes", "lower"),
                 ("write_bytes", "bytes", "lower"), ("util", "ratio", "higher"))
RATIOS = (("dedup.kept_frac", "ratio", "higher"),
          ("fact.rows_written_per_delta_row", "ratio", "lower"),
          ("ivf.search.rows_read_per_hit", "ratio", "lower"),
          ("hnsw.search.rows_read_per_hit", "ratio", "lower"))
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("write_amp", "ratio"), ("heap_live_mb", "MB"))
JVM_TIMEOUT_S = 165
# 2 GiB heap; the throughput collector has no concurrent phase competing
# with the task threads for the cores; compile thresholds at a tenth so
# the JIT settles within the warm-up unit
JVM_FLAGS = ["-Xmx2g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1"]
# Spark on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, engine and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Class path of the compiled engine + harness, building if stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise RuntimeError("no engine sources (build.sbt, src/main/scala) "
                           "beside the benchmark: run from a full checkout")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(cp_file):
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1], digest


def run_jvm(cp, args, out_dir):
    """Run Main in its own process group; kill the group on timeout."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args, "--out", out_dir]
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=out_dir, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"JVM exceeded {JVM_TIMEOUT_S}s; stopping it")
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode


def end_to_end(res):
    units = res.get("units", [])
    med = lambda xs: statistics.median(xs) if xs else float("nan")
    m = {
        "setup_s": med(res.get("setup_s", [])),
        "wall_s": med([u["wall_s"] for u in units]),
        "cpu_s": med([u["cpu_s"] for u in units]),
        "write_amp": med([u["write_bytes"] / max(u["input_bytes"], 1) for u in units]),
        "heap_live_mb": res.get("heap_live_mb", float("nan")),
    }
    return m, {"units": len(units), "unit_wall_s": [u["wall_s"] for u in units],
               "setups_s": res.get("setup_s", []),
               "jobs_per_unit": med([u["jobs"] for u in units])}


def per_layer(res, cores):
    spans = res.get("spans", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    ids = {s["id"]: s for s in spans}

    def gc_share(s):
        """The enclosing unit's GC time, apportioned by heap allocation:
        young collections are paid by whoever fills the young generation."""
        unit = ids.get(s["parent"], s)
        return unit["gc_s"] * s["alloc_bytes"] / max(unit["alloc_bytes"], 1)

    m = {}
    for layer in LAYERS:
        ss = by.get(layer, [])
        n = max(len(ss), 1)
        tot = lambda k: sum(s[k] for s in ss)
        self_s = sum(s["wall_s"] - sum(c["wall_s"] for c in children.get(s["id"], []))
                     for s in ss)
        m[f"{layer}.wall_s"] = self_s / n
        m[f"{layer}.jobs"] = tot("jobs") / n
        m[f"{layer}.cpu_s"] = tot("cpu_s") / n
        m[f"{layer}.gc_s"] = sum(gc_share(s) for s in ss) / n
        m[f"{layer}.shuffle_bytes"] = tot("shuffle_bytes") / n
        m[f"{layer}.write_bytes"] = tot("write_bytes") / n
        m[f"{layer}.util"] = tot("cpu_s") / max(tot("wall_s") * cores, 1e-9)
    rows = lambda name, k: sum(s[k] for s in by.get(name, []))
    work = res.get("work", {})
    sales = next((w for w in ("sales_cdc", "sales_load") if f"{w}.delta_rows" in work), None)
    m["dedup.kept_frac"] = (work.get("curate.dedup.rows_out", 0)
                            / max(work.get("curate.quality.rows_out", 0), 1))
    m["fact.rows_written_per_delta_row"] = (
        rows("fact", "rows_written") / max(work.get(f"{sales}.delta_rows", 0), 1))
    for idx in ("ivf", "hnsw"):
        m[f"{idx}.search.rows_read_per_hit"] = (
            rows(f"{idx}.search", "rows_read") / max(work.get(f"vector_cdc.{idx}.search.hits", 0), 1))
    # jobs and time of a traced unit outside every layer span
    traced = [s for s in spans if s["name"].startswith("_unit.")]
    extra = {"unattributed_jobs": sum(s["jobs"] for s in traced),
             "unattributed_s": {s["name"][6:]: s["wall_s"] - sum(
                 c["wall_s"] for c in children.get(s["id"], [])) for s in traced}}
    for w, info in res.get("runs", {}).items():
        if "untraced_s" in info:
            extra["untraced_s"] = info["untraced_s"]
            extra["traced_s"] = info["traced_s"]
            extra["trace_overhead_s"] = info["traced_s"] - info["untraced_s"]
    units = {f"{layer}.{n}": u for layer in LAYERS for n, u, _ in LAYER_METRICS}
    units.update({n: u for n, u, _ in RATIOS})
    return m, units, extra


def cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before):
    """Share of CPU time the hypervisor took from this machine since `before`."""
    d = [b - a for a, b in zip(before, cpu_ticks())]
    return d[7] / max(sum(d), 1) if len(d) > 7 else None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(cp, digest, workload, seed, seconds, trace, smoke):
    cores = min(4, os.cpu_count() or 1)
    out_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    load0, cpu0 = os.getloadavg()[0], cpu_ticks()
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)] + (["--smoke"] if smoke else [])
    t0 = time.time()
    rc = run_jvm(cp, args, out_dir)
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"benchmark JVM failed (exit {rc})")
    with open(res_path) as f:
        res = json.load(f)
    jvm_s = time.time() - t0
    from oracle import run_checks
    checks, props = run_checks(res.get("check", []))
    check_s = time.time() - t0 - jvm_s
    for w, info in res.get("runs", {}).items():
        if "digest_untraced" in info:
            checks.append((f"{w}: traced output equals untraced output",
                           info["digest_untraced"] == info["digest_traced"],
                           f"{info['digest_traced']} vs {info['digest_untraced']}"))
    stamp = {"nproc": os.cpu_count(), "local_cores": cores, "jvm_flags": JVM_FLAGS,
             "max_heap_mb": res.get("xmx_mb"), "scale": res.get("scale"),
             "seed": seed, "loadavg_1m_before": load0,
             "loadavg_1m_after": os.getloadavg()[0], "steal_frac": steal_frac(cpu0),
             "git_commit": git_commit(),
             "source_digest": digest[:16], "spark": res.get("spark"),
             "jvm_s": jvm_s, "check_s": check_s,
             "phases_s": {k: res.get(k) for k in ("session_s", "warmup_s", "loop_s",
                                                   "check_s", "total_s")},
             "inputs": res.get("inputs"), "props": props}
    ops = res.get("attempted_units", 0) + len(res.get("runs", {}))
    failed = len(res.get("errors", [])) + sum(1 for _, ok, _ in checks if not ok)
    attempted = ops + len(checks)
    if trace:
        metrics, units, extra = per_layer(res, cores)
    else:
        metrics, extra = end_to_end(res)
        units = dict(END_TO_END)
    extra["fail_frac"] = failed / max(attempted, 1)
    correct = failed == 0 and all(v == v for v in metrics.values())
    report = {"workload": workload, "trace": trace, "stamp": stamp, "extra": extra,
              "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
              "errors": res.get("errors", [])}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump({**report, "metrics": metrics}, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}, report


def print_report(result, report):
    print(f"== {report['workload']} (trace {report['trace']}) ==")
    for c in report["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}"
              + ("" if c["ok"] else f": {c['detail']}"))
    for e in report["errors"]:
        print(f"error {e.splitlines()[0]}")
    for k, v in result["metrics"].items():
        print(f"{k:40s} {v['value']:>16.6g} {v['unit']}")
    for k, v in report["extra"].items():
        print(f"{k:40s} {v}")
    print("stamp " + json.dumps(report["stamp"], sort_keys=True))


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(cp, digest):
    """Every workload once at tiny scale, untraced and traced; every
    metric BENCHMARK.json names must be emitted with its unit."""
    spec = benchmark_spec()
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            result, report = run_one(cp, digest, w, 1, 1, trace, smoke=True)
            print_report(result, report)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace] or not result["correct"]:
                bad += 1
                print(f"SMOKE FAIL {w} trace {trace}: correct={result['correct']}, "
                      f"missing={sorted(set(want[trace]) - set(got))}, "
                      f"extra={sorted(set(got) - set(want[trace]))}, "
                      f"unit mismatches={[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
    print(f"smoke: {2 * len(WORKLOADS) - bad} of {2 * len(WORKLOADS)} runs ok")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny scale and check the metric set")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    try:
        cp, digest = build()
        if a.smoke:
            return smoke(cp, digest)
        if not a.workload:
            ap.error("--workload is required")
        result, report = run_one(cp, digest, a.workload, a.seed, a.seconds, a.trace,
                                 smoke=False)
    except Exception as e:  # no result line: the run did not complete
        log(f"error: {e}")
        return 2
    print_report(result, report)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
