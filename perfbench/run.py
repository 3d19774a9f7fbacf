"""The repo benchmark: one seeded, closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload log_churn --seed 1 --seconds 15 --trace 0

Builds the program from source (build.py), runs the workload on
local[nproc] for --seconds, checks every result against the workload's
model, and prints a per-metric report followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The full record of the run (every metric, samples, load, cores) goes to
--record, by default under .bench_build/records/.
"""

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

QUIET_LOAD = 2.5
# traced: each op's wall time may differ from the sum of its spans' self
# times by no more than this, the root span's own bookkeeping (tens of µs;
# 1-2 ms on the first traced op, while the tracer's code is still cold)
SELFTIME_TOLERANCE_MS = 5.0
JVM_TIMEOUT_S = 160

# -XX:-UsePerfData: no /tmp/hsperfdata file, so a run writes only inside its checkout
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Per-op-kind latency metrics of each workload (reported, not gated): name -> op kinds.
LATENCY = {
    "log_churn": {"append": ["append"], "read": ["read"], "travel": ["travel"], "cdf": ["cdf"]},
    "lake_dml": {"read": ["part_read", "range_read"], "scan": ["scan"],
                 "dml": ["dv_delete", "dv_update", "merge"]},
    "corpus_dedup": {},
}
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "docs_per_s": "docs/s", "error_rate": "ratio",
         "read_ms": "ms", "write_ms": "ms", "stored_bytes_per_row": "B/row",
         "retained_heap_mb": "MB"}


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().strip()
    except OSError:
        return ""


def load1(line):
    try:
        return float(line.split()[0])
    except (IndexError, ValueError):
        return None


def run_jvm(args, work, log_name, timeout=JVM_TIMEOUT_S):
    """Run graft.perfbench.Main with `args`; returns the lines it wrote."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    out = work / "result.jsonl"
    out.unlink(missing_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", build.classpath(),
           "graft.perfbench.Main", *args, "--work", str(work), "--out", str(out)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch in the work dir
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8",
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / log_name, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=str(work))
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout} s; log: {work / log_name}")
    if code != 0 or not out.exists():
        tail = (work / log_name).read_text(errors="replace")[-4000:]
        raise SystemExit(f"perfbench: JVM failed ({code}):\n{tail}")
    return [json.loads(x) for x in out.read_text().splitlines() if x.strip()]


def mix_ms(p50, mix, kinds):
    """Per-kind medians averaged with the loop's mix weights: the typical
    latency of `kinds`, independent of where the time window cut the
    last round."""
    kinds = [k for k in kinds if k in p50]
    return sum(mix[k] * p50[k] for k in kinds) / sum(mix[k] for k in kinds)


def end_to_end(rec):
    """Every end-to-end metric of one run record, with units and tails."""
    loop = [s for s in rec["samples"] if s[0] == "loop"]
    attempted = len(rec["samples"])
    failed = sum(1 for s in rec["samples"] if not s[3])
    by_kind = {}
    for s in loop:
        by_kind.setdefault(s[1], []).append(s[2])
    p50 = {k: stats.p50(v) for k, v in by_kind.items()}
    mix = rec["mix"]
    missing = [k for k in mix if k not in p50]
    if missing:
        raise SystemExit(f"perfbench: the loop ran no {missing} op; raise --seconds")
    end = rec["end"]
    m = {
        "setup_s": (rec["session_s"] + rec["warmup_s"] + stats.p50(rec["stage_reps_s"])
                    + rec["prime_s"]),
        "ops_per_s": 1000.0 / mix_ms(p50, mix, mix),
        "read_ms": mix_ms(p50, mix, rec["reads"]),
        "write_ms": mix_ms(p50, mix, rec["writes"]),
        "error_rate": failed / attempted,
        "stored_bytes_per_row": end["stored_bytes"] / max(1.0, end["live_rows"]),
        "retained_heap_mb": end["heap_mb"],
    }
    if "docs" in rec["counters"]:
        m["docs_per_s"] = rec["counters"]["docs"] * 1000.0 / sum(p50[k] for k in mix)
    units = dict(UNITS)
    tails = {}
    for group, kinds in LATENCY[rec["workload"]].items():
        xs = [s[2] for s in loop if s[1] in kinds]
        m[f"{group}_p50_ms"] = stats.p50(xs)
        units[f"{group}_p50_ms"] = "ms"
        value, pct, n = stats.tail(xs)
        tails[f"{group}_tail_ms"] = {"percentile": pct, "samples": n}
        if value is not None:
            m[f"{group}_tail_ms"] = value
            units[f"{group}_tail_ms"] = "ms"
    return m, units, tails, attempted, failed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="where to write the full run record (JSON)")
    a = ap.parse_args(argv)

    launched = time.time()
    load_launch = loadavg()
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    build.build()
    n = cores()
    work = build.BUILD / "work" / a.workload
    t0_ms = int(time.time() * 1000)
    (rec,) = run_jvm(["--mode", "bench", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--cores", str(n), "--t0-ms", str(t0_ms)], work, "jvm.log")
    rec["jvm_wall_s"] = time.time() - t0_ms / 1000
    rec["loadavg_launch"] = load_launch
    rec["quiet"] = (load1(load_launch) or 0.0) < QUIET_LOAD
    rec["build_and_launch_s"] = t0_ms / 1000 - launched

    e2e, units, tails, attempted, failed = end_to_end(rec)
    rec["end_to_end"] = e2e
    rec["tails"] = tails
    names = [x["name"] for x in spec["end_to_end"]]
    correct = failed == 0
    if a.trace:
        lay, residual = layers.per_layer(rec)
        rec["per_layer"] = lay
        rec["selftime_residual_ms"] = residual
        correct = correct and residual < SELFTIME_TOLERANCE_MS
        names = [x["name"] for x in spec["per_layer"]]
        units.update({x["name"]: x["unit"] for x in spec["per_layer"]})
        values = lay
    else:
        values = e2e
    missing = [k for k in names if k not in values]
    if missing:
        raise SystemExit(f"perfbench: {a.workload} did not produce {missing}")

    record = Path(a.record) if a.record else (
        build.BUILD / "records" / f"{a.workload}-s{a.seed}-t{a.trace}-{t0_ms}.json")
    record.parent.mkdir(parents=True, exist_ok=True)
    record.write_text(json.dumps(rec, indent=1))

    print(f"# {a.workload} seed={a.seed} cores={n} trace={a.trace} "
          f"loadavg_launch={load_launch!r} quiet={rec['quiet']} record={record}")
    if not rec["quiet"]:
        print(f"# WARNING: launched at load {load1(load_launch)} >= {QUIET_LOAD}; "
              "read this run as noisy")
    for k, v in sorted(e2e.items()):
        if k not in tails:
            print(f"{k} = {v:.6g} {units.get(k, '')}")
    for k, t in sorted(tails.items()):
        if t["percentile"] is None:
            print(f"{k} = n/a (n={t['samples']}: a tail needs {stats.TAIL_BEYOND} samples beyond it)")
        else:
            print(f"{k} = {e2e[k]:.6g} ms (p{t['percentile']:g}, n={t['samples']})")
    if a.trace:
        for k, v in sorted(lay.items()):
            print(f"{k} = {v:.6g} {units.get(k, '')}")
        print(f"# self times vs op wall time: worst residual {residual:.3g} ms "
              f"(tolerance {SELFTIME_TOLERANCE_MS:g} ms)")
    for e in rec["errors"][:10]:
        print(f"# error: {e}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in names}}))


if __name__ == "__main__":
    main()
