#!/usr/bin/env python3
"""Benchmark entry point: python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1, from the repository root.

Builds the program and the benchmark from source on first use (sbt, output
under .bench_build/ and the sbt target directories), writes the workload's
inputs from the seed, runs one JVM (perfbench.BenchMain) for the workload,
checks every output and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See BENCH.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen_corpus  # noqa: E402
import gen_retail  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 170
# The corpus tables and query order do not depend on --seed, so the recorded
# digests in expected/corpus.json stay valid for every seed.
CORPUS_SF = 0.05
CORPUS_DATA_SEED = 42
WORKLOADS = ("forecast_paper", "corpus_mix")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [ROOT / "build.sbt", HERE / "build.sbt"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(digest):
    """Compiles with sbt when the sources changed since the last build and
    returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    # sbt keeps its server socket under java.io.tmpdir; keep it in the checkout.
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'sbt-tmp'}"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def retail_input(seed):
    """The seed's CSV and its statistics; other seeds' files are removed."""
    data = BUILD / "data"
    data.mkdir(parents=True, exist_ok=True)
    csv, meta = data / f"retail-{seed}.csv", data / f"retail-{seed}.json"
    if not (csv.is_file() and meta.is_file()):
        for old in data.glob("retail-*"):
            old.unlink()
        s = gen_retail.write(str(csv) + ".tmp", seed)
        os.replace(str(csv) + ".tmp", csv)
        meta.write_text(json.dumps(s))
    return csv, json.loads(meta.read_text())


def corpus_input():
    d = BUILD / "data" / f"corpus-sf{CORPUS_SF}-s{CORPUS_DATA_SEED}"
    if not (d / "done").is_file():
        shutil.rmtree(d, ignore_errors=True)
        gen_corpus.write(str(d), CORPUS_SF, CORPUS_DATA_SEED)
        (d / "done").write_text("")
    return d


def query_list(workload):
    """The workload's queries in their listed order. The timed pass is cold,
    and its first query pays for warming the code paths it shares with the
    rest, so a seed-set order would move that cost between queries."""
    text = (HERE / "workloads" / f"{workload}.txt").read_text()
    return [line.strip() for line in text.splitlines() if line.strip() and not line.startswith("#")]


def run_jvm(cp, workload, inp, seconds, trace, queries, out):
    cores = len(os.sched_getaffinity(0))
    tmp = BUILD / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "local").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=str(tmp / "local"))
    # A fixed, pre-touched heap keeps peak RSS from depending on when the
    # collector chose to grow the heap.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # Deep enough call sites that a Spark ML job's reach the program's frames.
            "-Dspark.callstack.depth=200"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.BenchMain", workload, str(inp), str(seconds), str(trace),
              str(out), ",".join(queries)])
    log = BUILD / "logs" / f"{workload}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        pid = 0
        try:
            while True:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    fail(f"{workload} timed out after {JVM_TIMEOUT_S}s, see {log}")
                time.sleep(0.05)
        finally:
            # On a timeout or a signal to this process, the JVM goes too.
            if not pid:
                p.kill()
                os.wait4(p.pid, 0)
    shutil.rmtree(tmp, ignore_errors=True)
    if os.waitstatus_to_exitcode(status) != 0 or not out.is_file():
        fail(f"{workload} JVM failed, see {log}")
    return cores, usage.ru_maxrss / 1024.0


# Ranges every forecast output must fall in, whatever the seed. The LR v2
# scorecard and KPIs of 56 runs over seeds 1-5 and 101-510 fell in
# MAE 1.75-4.03, RMSE 5.29-13.9, R2 0.9963-0.9995, baseline MAE 25.7-27.8
# and value-weighted reduction 82.1-94.7 %; the bands are wider than that.
FORECAST_BANDS = {"mae": (1.0, 6.0), "rmse": (3.0, 20.0), "r2": (0.99, 1.0),
                  "mae_baseline": (24.0, 30.0), "pct_reduction": (75.0, 99.0)}
# Recorded outputs are compared with this relative tolerance: a different
# core count or partitioning changes the order of floating-point sums.
REL_TOL = 1e-6


def forecast_errors(r, seed, retail_stats, recorded):
    """What is wrong with one forecast pass's outputs, as a list of reasons.
    The row counts must equal the generator's own for the seed, the
    scorecard and KPIs must fall in FORECAST_BANDS and agree with each other,
    and for a seed in expected/forecast_paper.json they must equal the
    recorded values."""
    errs = []
    for k in ("train_rows", "test_rows"):
        if r[k] != retail_stats[k]:
            errs.append(f"{k} {r[k]} != {retail_stats[k]}")
    mae, rmse, r2 = r["lr_v2"]
    mae_model, mae_baseline, pct = r["kpi"]
    got = {"mae": mae, "rmse": rmse, "r2": r2, "mae_baseline": mae_baseline, "pct_reduction": pct}
    for k, (lo, hi) in FORECAST_BANDS.items():
        if not lo <= got[k] <= hi:
            errs.append(f"{k} {got[k]} outside [{lo}, {hi}]")
    # The scorecard and the KPI step compute the model's MAE over the same rows.
    if not math.isclose(mae, mae_model, rel_tol=REL_TOL):
        errs.append(f"scorecard MAE {mae} != KPI MAE {mae_model}")
    if not mae <= rmse:
        errs.append(f"MAE {mae} > RMSE {rmse}")
    want = recorded.get(str(seed))
    if want:
        for k in ("lr_v2", "kpi"):
            if not all(math.isclose(a, b, rel_tol=REL_TOL) for a, b in zip(r[k], want[k])):
                errs.append(f"{k} {r[k]} != recorded {want[k]}")
    return errs


def check_ops(workload, raw, seed, retail_stats):
    """Returns the number of operations with a wrong output (failed ones
    are counted separately)."""
    ops = [op for op in all_ops(raw) if op["ok"]]
    wrong = 0
    if workload.startswith("forecast"):
        recorded = json.loads((HERE / "expected" / "forecast_paper.json").read_text())
        for op in ops:
            errs = forecast_errors(op["result"], seed, retail_stats, recorded)
            if errs:
                print(f"perfbench: wrong output from {op['name']}: {'; '.join(errs)}", file=sys.stderr)
                wrong += 1
    else:
        expected = json.loads((HERE / "expected" / "corpus.json").read_text())
        for op in ops:
            want = expected.get(op["name"])
            got = op["result"]
            if want is None or got["rows"] != want["rows"] or (
                    "digest" in want and got["digest"] != want["digest"]):
                print(f"perfbench: wrong output from {op['name']}: {got} != {want}", file=sys.stderr)
                wrong += 1
    return wrong


def all_ops(raw):
    return [op for p in raw["passes"] for op in p["ops"]]


def end_to_end(raw, peak_rss_mb, rows_in):
    """Timings are medians over the run's timed passes (one at the
    configured seconds)."""
    wall = stats.median([p["wall_s"] for p in raw["passes"]])
    by_op = {}
    for op in all_ops(raw):
        by_op.setdefault(op["name"], []).append(op["s"])
    times = [stats.median(v) for v in by_op.values()]
    return {
        "setup_s": raw["boot_s"] + raw["create_s"] + raw["warm_s"],
        "wall_s": wall,
        "op_p50_s": stats.median(times),
        "op_p90_s": stats.percentile(times, 90),
        "cpu_s": stats.median([p["cpu_s"] for p in raw["passes"]]),
        "peak_rss_mb": peak_rss_mb,
        "rows_per_s": rows_in / wall,
    }


def host_probe():
    """Host speed, measured in this process before the JVM starts so it adds
    nothing to the JVM's time or memory: a fixed integer loop (CPU speed),
    and the first touch of 256 MiB of fresh memory (page allocation speed)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    t1 = time.perf_counter()
    buf = bytearray(256 << 20)
    for j in range(0, len(buf), 4096):
        buf[j] = 1
    t2 = time.perf_counter()
    del buf
    return {"cpu_loop_s": t1 - t0, "first_touch_256mb_s": t2 - t1, "sink": x}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's outputs as the expected ones")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no program sources under {ROOT}; run from a full checkout")

    digest = source_digest()
    cp = ensure_built(digest)
    if a.trace and untraced_wall(a.workload, a.seed) is None:
        measure(cp, digest, a.workload, a.seed, a.seconds, 0, False)
    meta, result = measure(cp, digest, a.workload, a.seed, a.seconds, a.trace, a.record)
    print("meta " + json.dumps(meta, sort_keys=True))
    print(json.dumps(result))


def untraced_wall(workload, seed):
    """wall_s of this seed's untraced run of the workload in this checkout,
    else the median over its other seeds' untraced runs."""
    own = BUILD / "results" / f"{workload}-{seed}-t0.json"
    paths = [own] if own.is_file() else sorted((BUILD / "results").glob(f"{workload}-*-t0.json"))
    walls = [json.loads(p.read_text())["result"]["metrics"]["wall_s"]["value"] for p in paths]
    return stats.median(walls) if walls else None


def measure(cp, digest, workload, seed, seconds, trace, record_outputs):
    """One JVM run of the workload; returns (run metadata, result line)."""
    retail_stats, queries = None, []
    if workload.startswith("forecast"):
        inp, retail_stats = retail_input(seed)
    else:
        inp = corpus_input()
        queries = query_list(workload)
    out = BUILD / "results" / f"{workload}-{seed}-t{trace}.raw.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    probe = host_probe()
    cores, peak_rss_mb = run_jvm(cp, workload, inp, seconds, trace, queries, out)
    raw = json.loads(out.read_text())

    if record_outputs:
        record(workload, seed, raw)
    ops = all_ops(raw)
    attempted = len(ops)
    failed = sum(not op["ok"] for op in ops) + check_ops(workload, raw, seed, retail_stats)
    if trace:
        metrics = dict(raw["layers"])
        metrics["session.create_s"] = raw["create_s"]
        metrics["session.warm_s"] = raw["warm_s"]
        metrics["trace.wall_s"] = stats.median([p["wall_s"] for p in raw["passes"]])
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - untraced_wall(workload, seed)
        metrics["fail_ratio"] = stats.fail_ratio(attempted, failed)
    else:
        rows_in = (retail_stats["raw_lines"] if retail_stats
                   else raw["records_read"] / len(raw["passes"]))
        metrics = end_to_end(raw, peak_rss_mb, rows_in)
    meta = dict(raw["meta"], workload=workload, seed=seed, seconds=seconds, trace=trace,
                host_probe=probe, steps_s=raw.get("steps_s"),
                spark_jobs=raw["spark_jobs"], spark_tasks=raw["spark_tasks"],
                cores=cores, heap=HEAP, source_sha256=digest, git_sha=git_sha(),
                input=retail_stats or {"corpus_sf": CORPUS_SF, "data_seed": CORPUS_DATA_SEED,
                                       "queries": len(queries)},
                passes=len(raw["passes"]), fail_ratio=stats.fail_ratio(attempted, failed))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)}
                          for k, v in metrics.items()}}
    (out.parent / f"{workload}-{seed}-t{trace}.json").write_text(
        json.dumps({"meta": meta, "result": result}, indent=1))
    return meta, result


def unit_of(metric):
    if metric == "rows_per_s":
        return "1/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_share", "_util", "_ratio")):
        return "ratio"
    return "count"


def git_sha():
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def record(workload, seed, raw):
    """Stores the outputs of this run as the expected ones (maintenance use:
    after a deliberate change to the generators or the queries)."""
    ops = [op for op in all_ops(raw) if op["ok"]]
    if workload.startswith("forecast"):
        path = HERE / "expected" / "forecast_paper.json"
        doc = json.loads(path.read_text()) if path.is_file() else {}
        r = ops[0]["result"]
        doc[str(seed)] = {"lr_v2": r["lr_v2"], "kpi": r["kpi"]}
    else:
        path = HERE / "expected" / "corpus.json"
        doc = json.loads(path.read_text()) if path.is_file() else {}
        rows_only = set((HERE / "workloads" / "rows_only.txt").read_text().split())
        for op in ops:
            r = op["result"]
            doc[op["name"]] = {"rows": r["rows"]} if op["name"] in rows_only else r
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(dict(sorted(doc.items())), indent=1) + "\n")


if __name__ == "__main__":
    main()
