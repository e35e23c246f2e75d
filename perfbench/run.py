#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_core --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. It builds the library and the harness
(`perfbench/harness`, sbt) into `.bench_build/` when the sources changed,
writes the seeded inputs (`perfbench/gen.py`), runs the harness on
`local[<cores>]`, checks every query's output against its DuckDB oracle
(`tools/check.py`), and prints each metric with its unit. The last line
of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). A run whose figures miss the sample rules (see
`metrics.problems`) exits with code 5 and prints no result. See
perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the harness build."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"),
            os.path.join(HERE, "harness", "src")]
    files = [os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile library + harness with sbt unless the stamp matches."""
    cp_file = os.path.join(build_dir, "harness-target", "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=fh,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file


def run_harness(cp_file, args, data_dir, out_dir):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(cp_file) as fh:
        cp = fh.read().strip()
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
        "graft.perfbench.Main",
        "--workload", args.workload, "--data", data_dir, "--out", out_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
        + (["--ids", args.ids, "--min-samples", "1"] if args.ids else []))
    log = os.path.join(out_dir, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out", 4)
    raw_file = os.path.join(out_dir, "raw.json")
    if code != 0 or not os.path.exists(raw_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness exited with {code}", 4)
    with open(raw_file) as fh:
        return json.load(fh)


def oracle_check(root, data_dir, check_dir):
    """Run tools/check.py's compare; returns ({id: verdict}, failed ids)."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, check_dir)
    verdicts, failed = {}, []
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name = rest.split(" ")[0].rstrip(":")
            verdicts[name] = line
            if word == "FAIL":
                failed.append(name)
    return verdicts, failed


def rows_out(verdicts):
    """Rows of one pass over the query list, from "PASS q (N rows)"."""
    return sum(int(v.rsplit("(", 1)[1].split()[0])
               for v in verdicts.values() if v.startswith("PASS"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of graft.perfbench.Workloads")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ids", default=None,
                    help="comma-separated query ids replacing the frozen "
                         "list (smoke tests only)")
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    build_dir = os.path.join(root, ".bench_build")
    cp_file = build(root, build_dir)

    data_dir = gen.generate(
        os.path.join(build_dir, "data", f"seed{args.seed}"), args.seed)
    out_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        t0 = time.time()
        raw = run_harness(cp_file, args, data_dir, out_dir)
        harness_s = time.time() - t0
        bad = metrics.problems(raw)
        if bad:
            fail("run does not meet the sample rules: " + "; ".join(bad), 5)
        check_dir = os.path.join(out_dir, "check")
        verdicts, failed_ids = oracle_check(root, data_dir, check_dir)
        with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
            has_oracle = set(json.load(fh))
        unchecked = sorted(set(raw["ids"]) - has_oracle)
        failed, attempted, failing = metrics.failure_count(
            raw["samples"], failed_ids + unchecked)
        n = len(raw["samples"])
        print(f"workload {args.workload} seed {args.seed} "
              f"cores {raw['cores']} queries {len(set(raw['ids']))} "
              f"sweeps {len(raw['sweeps'])} set-ups {len(raw['setups'])} "
              f"harness {harness_s:.1f} s")
        print(f"samples {n}; tail percentile with >=10 samples beyond it: "
              f"p{metrics.tail_percentile(n)}")
        print(f"failed_frac {failed / max(1, attempted):.6f} ratio "
              f"({failed}/{attempted}) failing: {' '.join(failing) or '-'}")
        for v in verdicts.values():
            if v.startswith("FAIL"):
                print(v)
        if args.trace:
            values = metrics.per_layer(raw, rows_out(verdicts))
            units = metrics.per_layer_units(raw)
            trace_dir = os.path.join(build_dir, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "counters": values,
                           "spans": metrics.spans(raw, args.workload)}, fh)
            print(f"trace spans: {os.path.relpath(trace_file, root)}")
        else:
            values = metrics.end_to_end(raw)
            units = metrics.END_TO_END
        assert set(values) == {name for name, _ in units}
        for name, unit in units:
            print(f"{name} {values[name]:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0 and not unchecked,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit}
                        for name, unit in units},
        }))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
