#!/usr/bin/env python3
"""Benchmark of the reference CLI workflow (see perfbench/README.md).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the harness with
scalac into .bench_build/ (reused while the sources are unchanged),
generates the workload's inputs from the seed, runs the harness JVM,
checks the outputs, and prints one JSON object as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (names and units from BENCHMARK.json).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import kpigen  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORKLOADS = ("fanout_small_files", "kpi_store")
# build.sbt's --add-opens list (Spark 4 on JDK 17 outside spark-submit)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
KPI_STORES = 15
ENV = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def build(jars, log):
    """Compile src/main/scala, then the harness against it; cached by a
    hash of every source file."""
    lib_srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness_srcs = sorted((HERE / "harness").glob("*.scala"))
    h = hashlib.sha256()
    for f in lib_srcs + harness_srcs:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "ok").exists():
        return out
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    for part, srcs, extra in (("lib", lib_srcs, []), ("harness", harness_srcs, [out / "lib"])):
        (out / part).mkdir(parents=True)
        cp = os.pathsep.join([str(jars / "*")] + [str(p) for p in extra])
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
               "-nowarn", "-d", str(out / part)] + [str(s) for s in srcs]
        if subprocess.run(cmd, stdout=log, stderr=log, env=ENV).returncode != 0:
            fail(f"scalac failed on {part}; see {log.name}")
    (out / "ok").write_text("")
    return out


def run_harness(classes, jars, workload, inp, work, args, log, deadline):
    result = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(classes / "harness"), str(classes / "lib"), str(jars / "*")])
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-Djava.security.manager=allow", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.cli.PerfBench", workload, str(inp), str(work),
            str(args.seed), str(args.seconds), str(args.trace), str(result)])
    proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=ENV)
    try:
        rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail(f"harness timed out; see {log.name}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not result.exists():
        fail(f"harness exited {rc}; see {log.name}")
    return json.loads(result.read_text())


def main():
    # a terminated benchmark still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("run from the repository root (no src/main/scala or build.sbt here)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()

    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        classes = build(jars, log)
    start = time.monotonic()

    work = BUILD / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    inp = work / "input"
    inp.mkdir(parents=True)
    model = kpigen.generate(inp, args.seed, n_stores=KPI_STORES) if args.workload == "kpi_store" else None
    with open(work / "harness.log", "w") as log:
        res = run_harness(classes, jars, args.workload, inp, work, args, log, start + 165)

    out_dir = Path(res["out_dir"])
    if model is None:
        n_checks = 1
        problems = checks.check_fanout(inp, out_dir)
        rows, in_bytes, out_bytes, out_files = checks.fanout_sizes(inp, out_dir)
    else:
        n_checks = 2
        problems = checks.check_kpi(model, out_dir) + checks.check_presence(model, res["notes"])
        rows = sum(len(model[k]) for k in ("binds", "cum", "mem", "fp_month", "fp_branch",
                                           "branch_binds", "generic"))
        in_bytes = sum(f.stat().st_size for f in inp.rglob("*.csv"))
        out_files = list(out_dir.glob("*/*.csv"))
        out_bytes, out_files = sum(f.stat().st_size for f in out_files), len(out_files)
    for p in problems[:20] + [n for n in res["notes"] if "fail" in n or "threw" in n]:
        print(f"perfbench check: {p}", file=sys.stderr)
    attempted = res["attempted"] + n_checks
    failed = min(attempted, res["failed"] + (1 if problems else 0))

    med = statistics.median
    wall = med(res["wall_s"])
    values = {"setup_s": med(res["setup_s"]), "first_pass_s": res["first_pass_s"], "wall_s": wall}
    if args.trace:
        values = dict(res["layers"])
        for stage, xs in res["stage_s"].items():
            values[f"cli.{stage}.s"] = med(xs)
        if model is None:
            values["sources.fanout_write.rows_per_s"] = rows / values["sources.fanout_write.s"]
            values["sources.fanout_write.out_bytes"] = out_bytes
            values["sources.fanout_write.out_files"] = out_files
        values["rows_per_s"] = rows / wall
        values["out_bytes_per_in_byte"] = out_bytes / in_bytes
        values["trace.overhead_s"] = med(res["traced_wall_s"]) - wall
        values["trace.overhead_ratio"] = med(res["traced_wall_s"]) / wall - 1
        s = res["sentinel"]
        values["host.sentinel_st_ms"] = (s["pre_st_ms"] + s["post_st_ms"]) / 2
        values["host.sentinel_mt_ms"] = (s["pre_mt_ms"] + s["post_mt_ms"]) / 2
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a layer the workload does not exercise reads 0 (e.g. etl.kpi.* on fan-out)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in section}
    (work / "artifact.json").write_text(json.dumps(
        {"result": res, "problems": problems, "values": values}, ensure_ascii=False, indent=1))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
