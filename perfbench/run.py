#!/usr/bin/env python3
"""Benchmark of the ingestion engine: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program and the
benchmark harness with sbt (offline) and caches the classpath under
`.bench_build/`; later runs start the JVM directly. Each run works in its own
directory under `.bench_build/perfbench/runs/` and removes it at the end.

With `--trace 0` the last stdout line carries the end-to-end metrics, with
`--trace 1` the per-layer metrics of a traced run (see perfbench/README.md).
Outputs are checked in both modes; `failed` counts failed or incorrect ops.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.dont_write_bytecode = True  # leave no cache files next to imported scripts

# Each workload's op count (catalog: passes) is `rate x --seconds`, at least
# `min`: the rate is about the parent's throughput on a 4-core host, so a run
# measures for about --seconds while every commit does the same work. A
# traced run needs at least one untraced and one traced op or pass.
WORKLOADS = {
    "ingest_api": dict(rate=0.2, min=3),
    "catalog_mix": dict(rate=0.07, min=1),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 165  # a run must end within 180 s; only the first one builds


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    """Compile once per source state; return the runtime classpath."""
    digest = source_hash()
    cached = BUILD / "classpath.txt"
    stamp = BUILD / "classpath.sha256"
    if cached.exists() and stamp.exists() and stamp.read_text() == digest:
        return cached.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("compiling the program and the benchmark (first run only)")
    with open(BUILD / "build.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"build failed; see {BUILD / 'build.log'}")
    cached.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1)}


def oracle_failures(data_dir: Path, dump_dir: Path) -> list:
    """Compare dumped results with DuckDB through tools/oracle_check.py."""
    sys.path.insert(0, str(ROOT / "tools"))
    import oracle_check  # noqa: E402
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oracle_check.main(str(data_dir), str(dump_dir))
    bad = [l for l in buf.getvalue().splitlines()
           if l.startswith("FAIL") or "EMPTY!" in l or "unreadable" in l]
    for l in bad:
        log(l)
    return bad


def run(args) -> dict:
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("the program's sources are not next to perfbench/")
    spec = WORKLOADS[args.workload]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = classpath()

    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    count = max(spec["min"], round(spec["rate"] * args.seconds), 2 * args.trace)
    catalog = args.workload == "catalog_mix"
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--trace", str(args.trace), "--run-dir", str(run_dir),
             "--passes" if catalog else "--ops", str(count)]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + jargs)
    try:
        if catalog:  # the tables, generated once before the JVM starts
            sys.path.insert(0, str(HERE))
            import gen_tables  # noqa: E402
            gen_tables.generate(str(run_dir / "data"), args.seed)
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise SystemExit("benchmark JVM timed out")
        for line in err.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        result_lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if proc.returncode != 0 or not result_lines:
            sys.stderr.write(err[-4000:])
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
        res = json.loads(result_lines[-1][len("PERFBENCH "):])
        for e in res["errors"]:
            log(f"check failed: {e}")
        failed = res["failed"]
        if catalog:
            bad = oracle_failures(run_dir / "data", run_dir / "results")
            failed = res["attempted"] if bad else failed
        metrics = {k: float(v) for k, v in res["metrics"].items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = bench["per_layer"] if args.trace else bench["end_to_end"]
    facts = dict(host_facts(), **res["info"], workload=args.workload, seed=args.seed,
                 ops=res["attempted"])
    print(json.dumps({"host": facts}))
    return {
        "correct": failed == 0 and not res["errors"],
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in names},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    result = run(args)
    log(f"done in {time.time() - t0:.1f}s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
