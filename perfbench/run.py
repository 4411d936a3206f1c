#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]
    python3 perfbench/run.py --selftest

Builds the repository and the benchmark if needed (see build.py), runs one
workload in a fresh JVM, checks its outputs and prints, as the last line
of standard output, one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json when
`--trace 0`, the per-layer ones when `--trace 1`. Lines before it give the
workload's own end-to-end figures and the run facts. Everything a run
writes stays under `.perfbench/` at the root of the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["entity_ops", "batch_queries"]
HEAP = "4g"
# A run must end within 180 s; the oracle compare gets what the JVM leaves.
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 25
# Module openings Spark needs on JDK 17 when it is not started by spark-submit.
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def jvm(main, classpath, out_dir, args, timeout=JVM_TIMEOUT_S):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           "-cp", classpath, main, *args]
    with open(os.path.join(out_dir, "jvm.out"), "w") as so, open(os.path.join(out_dir, "jvm.err"), "w") as se:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=so, stderr=se)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def oracle_check(out_dir, result):
    """batch_queries: hash-compare the untimed pass's dump with the DuckDB
    oracle through the repository's own compare, tools/selfcheck.py."""
    dump = os.path.join(out_dir, "dump")
    corpus = os.path.join(out_dir, "corpus")
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"), corpus, dump],
                           cwd=ROOT, capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        result["correct"] = False
        result["checks"].append(f"oracle compare timed out after {ORACLE_TIMEOUT_S} s")
        return
    with open(os.path.join(out_dir, "selfcheck.out"), "w") as fh:
        fh.write(r.stdout + r.stderr)
    oks = [l for l in r.stdout.splitlines() if l.startswith("OK")]
    bad = [l for l in r.stdout.splitlines() if "FAIL" in l]
    expected = result["facts"].get("oracle_queries", 0)
    if r.returncode != 0 or bad or len(oks) != expected:
        result["correct"] = False
        result["checks"].append(f"oracle compare: {len(oks)}/{expected} OK; " + "; ".join(bad)[:500])
    result["facts"]["oracle_ok"] = len(oks)


def run_one(workload, seed, seconds, trace):
    classpath = build.build()
    out_dir = os.path.join(ROOT, ".perfbench", "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    t0 = time.time()
    code = jvm("perfbench.Main", classpath, out_dir,
               ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--out", out_dir])
    res_file = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(res_file):
        tail = open(os.path.join(out_dir, "jvm.err")).read()[-3000:]
        sys.exit(f"run: {workload} JVM {'timed out' if code is None else f'exited {code}'}\n{tail}")
    with open(res_file) as fh:
        result = json.load(fh)
    if workload == "batch_queries":
        oracle_check(out_dir, result)
    result["facts"]["wall_s"] = round(time.time() - t0, 3)
    with open(res_file, "w") as fh:
        json.dump(result, fh, indent=1)
    for d in ("ckpt", "tmp", "dump", "corpus"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return result, out_dir


def summary(result):
    facts = result["facts"]
    lines = [f"# workload {result['workload']} seed={facts.get('seed')} trace={facts.get('trace')} "
             f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}"]
    fail_ratio = result["failed"] / max(result["attempted"], 1)
    figs = {**result["e2e"], **result["e2e_info"], "fail_ratio": {"value": fail_ratio, "unit": "ratio"}}
    lines.append("#   " + "  ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in figs.items()))
    lines.append("#   facts: " + json.dumps(facts, sort_keys=True))
    for c in result["checks"][:10]:
        lines.append(f"#   CHECK FAILED: {c}")
    return "\n".join(lines)


def final_line(result, trace):
    s = spec()
    names = [m["name"] for m in (s["per_layer"] if trace else s["end_to_end"])]
    source = result["layers"] if trace else result["e2e"]
    missing = [n for n in names if n not in source]
    if missing:
        sys.exit(f"run: result lacks metrics {missing}")
    return json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                       "failed": int(result["failed"]),
                       "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}})


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    if a.selftest:
        classpath = build.build()
        out_dir = os.path.join(ROOT, ".perfbench", "selftest")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        code = jvm("perfbench.SelfTest", classpath, out_dir, [out_dir])
        print(open(os.path.join(out_dir, "jvm.out")).read(), end="")
        sys.exit(0 if code == 0 else 1)
    if a.all:
        for w in [w["name"] for w in spec()["workloads"]]:
            for trace in ([a.trace] if a.trace else [0, 1]):
                result, _ = run_one(w, a.seed, seconds, trace)
                print(summary(result))
                print(final_line(result, trace), flush=True)
        return
    if not a.workload:
        ap.error("--workload, --all or --selftest is required")
    result, out_dir = run_one(a.workload, a.seed, seconds, a.trace)
    print(summary(result))
    print(f"# artifacts: {os.path.relpath(out_dir, ROOT)}")
    print(final_line(result, a.trace))


if __name__ == "__main__":
    main()
