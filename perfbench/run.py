#!/usr/bin/env python3
"""End-to-end benchmark runner for the engine (see perfbench/README.md).

    python3 perfbench/run.py --workload orders --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source state),
prepares the seeded inputs (cached on disk), runs one workload in one
JVM, checks every output against its DuckDB / numpy oracle, writes the
full record under perfbench/.work/records/ and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import inputs
import checks

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
RUN_TIMEOUT_S = 170
HEAP = "4g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, out_path, env=None):
    """Runs cmd in its own process group, output to out_path; kills the
    whole group on timeout and always waits for it."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_hash():
    h = hashlib.sha256()
    files = sorted(list(ENGINE_SRC.rglob("*.scala")) + list((BENCH / "src" / "main").rglob("*.scala"))
                   + [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    stamp = WORK / "build" / "classpath.json"
    key = source_hash()
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("source_hash") == key:
            return saved["classpath"]
    stamp.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    logf = WORK / "build" / "sbt.log"
    log("building engine + harness (sbt)")
    t0 = time.time()
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "compile", "export Runtime/fullClasspath"],
                   BENCH, 840, logf, env)
    lines = logf.read_text(errors="replace").splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    stamp.write_text(json.dumps({"source_hash": key, "classpath": cp[-1].strip(),
                                 "build_s": time.time() - t0}))
    return cp[-1].strip()


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return {"git_sha": None, "git_dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10)
        return {"git_sha": sha.stdout.strip(), "git_dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": None, "git_dirty": None}


def mem_total_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return None


def overhead(record, records_dir):
    """Traced minus untraced end-to-end metrics, relative to untraced,
    against the latest untraced record of the same workload and seed."""
    best = None
    for f in records_dir.glob(f"{record['workload']}-seed{record['seed']}-trace0-*.json"):
        if best is None or f.stat().st_mtime > best.stat().st_mtime:
            best = f
    if best is None:
        return None
    base = json.loads(best.read_text())["e2e"]
    out = {}
    for k, v in record["e2e"].items():
        b = base.get(k, {}).get("value")
        if b:
            out[k] = (v["value"] - b) / b
    return {"against": best.name, "relative": out}


def main():
    # a terminated runner still stops the processes it started (run_group's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"unknown workload {args.workload}; one of {names}")
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")

    cp = build()
    # the run's own time limit starts after the (first-run only) build
    started = t0 = time.time()
    inp = inputs.prepare(args.workload, args.seed, WORK / "inputs", BENCH / "data")
    log(f"inputs ready in {time.time() - t0:.1f} s")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = WORK / "out" / tag
    tmp = WORK / "tmp" / tag
    for d in (out, tmp):
        if d.exists():
            subprocess.run(["rm", "-rf", str(d)], check=True)
        d.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={tmp / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inputs", str(inp["dir"]), "--out", str(out), "--work", str(tmp),
              "--cores", str(cores)])
    jlog = out / "jvm.log"
    budget = max(30, RUN_TIMEOUT_S - (time.time() - started))
    t0 = time.time()
    rc = run_group(cmd, ROOT, budget, jlog)
    log(f"benchmark JVM ran {time.time() - t0:.1f} s")
    rec_path = out / "record.json"
    if rc != 0 or not rec_path.exists():
        sys.stderr.write("\n".join(jlog.read_text(errors="replace").splitlines()[-60:]) + "\n")
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    record = json.loads(rec_path.read_text())

    t0 = time.time()
    result = checks.run(args.workload, record, out, inp)
    log(f"checks ran {time.time() - t0:.1f} s")
    record["checks"] = result
    record["failed"] += result["failed"]
    record["attempted"] += result["attempted"]
    for k, v in result.get("metrics", {}).items():
        record["e2e"][k] = v
    record["e2e"]["error_rate"] = {"value": record["failed"] / max(1, record["attempted"]),
                                   "unit": "fraction"}
    record["stamp"] = dict(git_stamp(), nproc=cores, mem_total_kb=mem_total_kb(),
                           versions=record["info"].get("versions"),
                           spark_conf=record["info"].get("spark_conf"),
                           seed=args.seed, trace=bool(args.trace),
                           inputs=inp["manifest"], seconds=args.seconds,
                           sizes={k: v for k, v in record["info"].items() if k.endswith("input")})
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    if args.trace:
        record["tracing_overhead"] = overhead(record, records)
    (records / f"{tag}-{int(time.time() * 1000)}.json").write_text(json.dumps(record, indent=1))
    subprocess.run(["rm", "-rf", str(tmp)], check=False)

    correct = record["failed"] == 0 and result["correct"]
    for e in record["errors"] + result["errors"]:
        log(f"error: {e}")
    for k, v in record["e2e"].items():
        print(f"e2e {k} = {v['value']} {v['unit']}")
    for k, v in record["layer"].items():
        print(f"layer {k} = {v['value']} {v['unit']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record["layer"] if args.trace else record["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None or v["value"] is None:
            correct = False
            log(f"metric {m['name']} missing")
            continue
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(correct), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
