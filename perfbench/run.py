#!/usr/bin/env python3
"""The repo benchmark. Runs one workload of gate entries in one JVM, closed
loop, one client, at sf0.1 on local[nproc], and prints one JSON result line.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

--trace 0 reports the end-to-end metrics, --trace 1 registers the harness's
Spark listeners and reports the per-layer metrics instead. Workloads are
defined in perfbench/workloads.json, expected outputs in
perfbench/expected.json; perfbench/README.md documents both.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
DATA = HERE / "data" / "sf0.1"
HARNESS_TIMEOUT_S = 165
MB = 1024.0 * 1024.0
# What spark-submit passes to a JDK 17 driver (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expected", default=str(HERE / "expected.json"),
                   help="expected rows/hash per entry (tests point this elsewhere)")
    return p.parse_args(argv)


def launch(classpath, workload, spec, args):
    """Run the harness in a fresh JVM; return its JSON output."""
    run_dir = OUT / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    out = run_dir / "out.json"
    cpus = str(os.cpu_count() or 1)
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", classpath, "perfbench.Harness",
           "--workload", workload, "--data", str(DATA), "--entries", ",".join(spec["entries"]),
           "--layout", spec["layout"], "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", cpus,
           "--warehouse", str(run_dir / "warehouse"), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        log, _ = proc.communicate(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"run: harness exceeded {HARNESS_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        if proc.returncode != 0 or not out.is_file():
            sys.stderr.write(log[-6000:])
            raise SystemExit(f"run: harness exited with {proc.returncode}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def tail(pool):
    """The highest percentile of `pool` with at least 10 samples beyond it:
    (value, percentile, samples beyond)."""
    s = sorted(pool)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def check(out, expected):
    """Failures by entry: warm-up rows/hash against `expected`, and every
    timed count against the expected row count."""
    failures = []
    for e in out["warmup"][0]["entries"]:
        want = expected.get(e["entry"])
        if e["error"]:
            failures.append((e["entry"], "warm-up", e["error"]))
        elif want is None:
            failures.append((e["entry"], "warm-up", "no expected value"))
        elif (e["rows"], e["hash"]) != (want["rows"], want["hash"]):
            failures.append((e["entry"], "warm-up",
                             f"rows {e['rows']} hash {e['hash']} != "
                             f"expected rows {want['rows']} hash {want['hash']}"))
    for p in out["warmup"][1:] + out["passes"]:
        for e in p["entries"]:
            want = expected.get(e["entry"], {}).get("rows")
            if e["error"]:
                failures.append((e["entry"], f"pass {p['pass']}", e["error"]))
            elif e["rows"] != want:
                failures.append((e["entry"], f"pass {p['pass']}",
                                 f"count {e['rows']} != expected {want}"))
    return failures


def end_to_end(out, failures):
    passes = out["passes"]
    pool = [e["build_s"] + e["action_s"] for p in passes for e in p["entries"]]
    warm = out["warmup"]
    attempted = sum(len(p["entries"]) for p in warm + passes)
    warm_s = sum(p["wall_s"] for p in warm)
    value, pct, beyond = tail(pool)
    m = {
        "setup_s": (out["session_s"] + out["layout_write_s"] + warm_s, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "entry_p50_s": (statistics.median(pool), "s"),
        "entry_tail_s": (value, "s"),
        "failed_frac": (len(failures) / attempted, "ratio"),
        "rss_peak_mb": (out["rss_peak_mb"], "MB"),
    }
    notes = [f"setup_s = session {out['session_s']:.3f} s + layout write "
             f"{out['layout_write_s']:.3f} s + check pass {warm[0]['wall_s']:.3f} s (" +
             ", ".join(f"{e['entry']} {e['build_s'] + e['action_s']:.2f}"
                       for e in warm[0]["entries"]) +
             f") + settle pass {warm[1]['wall_s']:.3f} s",
             f"entry_tail_s is p{pct:.1f} of {len(pool)} timed entries ({beyond} beyond it)",
             f"pass_s quartiles {fmt_quartiles([p['wall_s'] for p in passes])} over "
             f"{len(passes)} timed passes: " + " ".join(f"{p['wall_s']:.3f}" for p in passes)]
    return m, attempted, notes


def per_layer(out, failures, attempted):
    passes = out["passes"]
    traced = {t["pass"]: t["metrics"] for t in out["trace"]["passes"]}
    data_bytes = sum(f.stat().st_size for f in DATA.glob("*.parquet"))
    rows = []
    for p in passes:
        t = dict(traced[p["pass"]])
        t["build_s"] = sum(e["build_s"] for e in p["entries"])
        t["action_s"] = sum(e["action_s"] for e in p["entries"])
        t["scan_amplification"] = t["input_mb"] * MB / data_bytes
        rows_out = sum(max(e["rows"], 0) for e in p["entries"])
        t["records_read_per_row_out"] = t["input_records"] / max(rows_out, 1)
        rows.append(t)
    units = dict(_metric_units("per_layer"))
    m = {n: (float(statistics.median(r[n] for r in rows)), units[n])
         for n in units if n not in ("layout_write_s", "failed_frac")}
    m["layout_write_s"] = (out["layout_write_s"], "s")
    m["failed_frac"] = (len(failures) / attempted, "ratio")
    notes = [f"per-layer values are medians of per-pass sums over {len(rows)} timed passes"]
    if out["trace"]["other_modules"]:
        notes.append(f"jobs in modules outside the list: {out['trace']['other_modules']}")
    return m, notes


def _metric_units(key):
    """(name, unit) of the metrics BENCHMARK.json lists under `key`."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(x["name"], x["unit"]) for x in spec[key]]


def fmt_quartiles(vals):
    if len(vals) < 2:
        return f"[{vals[0]:.4f}]"
    q = statistics.quantiles(vals, n=4)
    return "[" + ", ".join(f"{x:.4f}" for x in q) + "]"


def main(argv=None):
    args = parse(argv if argv is not None else sys.argv[1:])
    workloads = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in workloads:
        raise SystemExit(f"run: unknown workload {args.workload!r}; have {sorted(workloads)}")
    spec = workloads[args.workload]
    expected = json.loads(Path(args.expected).read_text())["entries"]
    classpath = build.build()
    started = time.time()
    out = launch(classpath, args.workload, spec, args)
    failures = check(out, expected)
    e2e, attempted, notes = end_to_end(out, failures)
    print(f"workload {args.workload} seed {args.seed} layout {spec['layout']} "
          f"cpus {out['cpus']} trace {args.trace}")
    for f in failures:
        print(f"FAILED {f[0]} ({f[1]}): {f[2]}")
    last = OUT / "last_untraced" / f"{args.workload}.json"
    if args.trace:
        metrics, more = per_layer(out, failures, attempted)
        notes += more
        if last.is_file():
            base = json.loads(last.read_text())["pass_s"]
            notes.append(f"tracing overhead: pass_s {e2e['pass_s'][0]:.4f} s traced - "
                         f"{base:.4f} s untraced = {e2e['pass_s'][0] - base:+.4f} s")
        spans = OUT / "trace" / f"{args.workload}-seed{args.seed}.json"
        spans.parent.mkdir(parents=True, exist_ok=True)
        spans.write_text(json.dumps({"workload": args.workload, "seed": args.seed,
                                     "passes": [p["span"] for p in out["trace"]["passes"]]}))
        notes.append(f"span tree written to {spans.relative_to(ROOT)}")
    else:
        metrics = {k: e2e[k] for k, _ in _metric_units("end_to_end")}
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps({"pass_s": e2e["pass_s"][0]}))
    for k, (v, u) in sorted(e2e.items()):
        print(f"{k} {v:.6f} {u}")
    if args.trace:
        for k, (v, u) in metrics.items():
            print(f"layer {k} {v:.6f} {u}")
    for n in notes:
        print(n)
    print(f"harness wall {time.time() - started:.1f} s")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
