#!/usr/bin/env python3
"""The repository's benchmark. Run it from the root of a checkout:

    python3 perfbench/run.py --workload paper_job --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from the checkout's sources (once
per source state), generates the workload's inputs from the seed, runs
one harness JVM, checks every operation's outputs, and prints one JSON
line last: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import lloyd  # noqa: E402
import twin  # noqa: E402

# points in the paper job's blob CSV; the reference's canonical file size
PAPER_POINTS = 20_000
PAPER_K = 8
PAPER_ITERATIONS = 10
# clusters left after the fit: the job's cost grows with them, so every
# seed's job keeps the same number (two of the 8 dropped as empty)
PAPER_CLUSTERS = 6
# relative tolerance of the golden replay against the reference's outputs
REL_TOL = 1e-9

WORKLOADS = ("paper_job", "operator_slice")

# untimed warm-up operations in the set-up, and operations a run measures
# at least, whatever --seconds says
WARMUP_OPS = {"paper_job": 3, "operator_slice": 1}
MIN_OPS = {"paper_job": 3, "operator_slice": 2}

# BASELINE.md, Flink 1.7 at p=4, k=8, 10 iterations: context, not a gate
REFERENCE = {"paper_job": "reference job at p=4: 1M points 12.15 s, 100k points 4.02 s"}

HARNESS_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat; a
    shared host that takes many of the CPUs' ticks slows every figure."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def paper_cli_seed(csv_path, seed):
    """The job's `-seed`: the first one from `seed` * 1000 on whose random
    init leaves PAPER_CLUSTERS clusters on this input, so every seed's job
    does the same work."""
    fit = lloyd.Lloyd(gen.read_blobs(csv_path))
    s = seed * 1000
    while len(fit.fit(lloyd.random_init(s, PAPER_K), PAPER_ITERATIONS)[0]) != PAPER_CLUSTERS:
        s += 1
    return s


def run_harness(cp, a, work, inputs, cores, job_seed):
    out = work / "result.json"
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", a.workload, "--seconds", str(a.seconds),
              "--warmup-ops", str(WARMUP_OPS[a.workload]),
              "--min-ops", str(MIN_OPS[a.workload]),
              "--trace", str(a.trace), "--cores", str(cores),
              "--seed", str(job_seed),
              "--inputs", str(inputs), "--work", str(work),
              "--fixture", str(HERE / "fixture"), "--out", str(out)])
    (work / "tmp").mkdir()
    with open(work / "harness.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: harness timed out, see {work / 'harness.log'}\n")
            sys.exit(4)
    if r.returncode != 0 or not out.exists():
        sys.stderr.write(f"perfbench: harness failed, see {work / 'harness.log'}\n")
        sys.exit(4)
    res = json.loads(out.read_text())
    spans_file = work / "spans.json"
    spans = json.loads(spans_file.read_text()) if spans_file.exists() else None
    return res, spans


def read_csv_dir(path, cols):
    """A Spark CSV sink directory (header-less part files) as one array."""
    parts = [p for p in sorted(glob.glob(os.path.join(path, "part-*")))
             if os.path.getsize(p) > 0]
    arrays = [np.loadtxt(p, delimiter=",", ndmin=2) for p in parts]
    return np.concatenate(arrays) if arrays else np.empty((0, cols))


def close(a, b):
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


class PaperOracle:
    """Expected sinks of the paper job for one input and seed."""

    def __init__(self, csv_path, seed):
        self.pts = gen.read_blobs(csv_path)
        fit = lloyd.Lloyd(self.pts)
        init = lloyd.random_init(seed, PAPER_K)
        self.cents, self.trace = fit.fit(init, PAPER_ITERATIONS, trace=True)
        self.objective = fit.objective(self.cents)
        self.labels, _, self.gap = fit.assign(self.cents)
        self.order = np.lexsort((self.pts[:, 1], self.pts[:, 0]))

    def check(self, op_dir):
        """Reasons the sinks in `op_dir` differ from the oracle (empty if none)."""
        errs = []
        cents = read_csv_dir(os.path.join(op_dir, "centroids"), 3)
        got = {int(r[0]): (r[1], r[2]) for r in cents}
        want = {c[0]: (c[1], c[2]) for c in self.cents}
        if sorted(got) != sorted(want):
            errs.append(f"centroid ids {sorted(got)} != {sorted(want)}")
        elif not all(close(got[c][i], want[c][i]) for c in want for i in (0, 1)):
            errs.append("centroids differ")
        obj = read_csv_dir(os.path.join(op_dir, "objfun"), 1).ravel()
        if len(obj) != 1 or not close(obj[0], self.objective):
            errs.append(f"objective {obj} != {self.objective}")
        tr = read_csv_dir(os.path.join(op_dir, "objtrace"), 2)
        tr = tr[np.argsort(tr[:, 0])] if len(tr) else tr
        if (len(tr) != len(self.trace)
                or list(tr[:, 0]) != list(range(1, len(self.trace) + 1))
                or not all(close(v, w) for v, w in zip(tr[:, 1], self.trace))):
            errs.append("objective trace differs")
        pts = read_csv_dir(os.path.join(op_dir, "points"), 3)
        if len(pts) != len(self.pts):
            errs.append(f"{len(pts)} assigned points, expected {len(self.pts)}")
        else:
            pts = pts[np.lexsort((pts[:, 2], pts[:, 1]))]
            want_xy = self.pts[self.order]
            if not np.array_equal(pts[:, 1:], want_xy):
                errs.append("assigned point coordinates differ from the input")
            else:
                # a point nearly equidistant from two centroids may go either way
                sure = self.gap[self.order] > REL_TOL
                bad = int(np.sum((pts[:, 0] != self.labels[self.order]) & sure))
                if bad:
                    errs.append(f"{bad} points assigned to another cluster")
        return errs


def check_ops(workload, res, inputs, seed, work, cache_file):
    """(attempted, failed, failure reasons by op) over the measured ops."""
    ops = res["ops"]
    reasons = {}
    if workload == "paper_job":
        oracle = PaperOracle(str(inputs / "points.csv"), seed)
        for op in ops:
            errs = [op["error"]] if op["error"] else oracle.check(op["out"]["dir"])
            if errs:
                reasons[op["tag"]] = errs
    else:
        (work / "duckdb").mkdir()
        tw = twin.Twins(str(HERE / "fixture"), res["oracle_sql"], str(work / "duckdb"),
                        cache_file)
        try:
            for op in ops:
                errs = [op["error"]] if op["error"] else [
                    e for q in layers.QUERY_MODULES
                    for e in [tw.check(q, os.path.join(op["out"]["dir"], q))] if e]
                if errs:
                    reasons[op["tag"]] = errs
        finally:
            tw.close()
    return len(ops), len(reasons), reasons


def end_to_end(res):
    ops = res["ops"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (statistics.median(o["wall_s"] for o in ops), "s"),
        "cpu_s": (statistics.median(o["cpu_s"] for o in ops), "s"),
        "peak_storage_mb": (statistics.median(o["peak_storage_bytes"] for o in ops) / 1e6, "MB"),
    }


def main():
    a = parse_args()
    root = Path.cwd()
    if not ((root / "build.sbt").is_file()
            and (root / "src" / "main" / "scala" / "graft" / "KMeansMain.scala").is_file()):
        sys.stderr.write("perfbench: run it from the root of a checkout of the engine "
                         "(build.sbt and src/main/scala/graft not found)\n")
        sys.exit(2)
    build_dir = root / ".bench_build" / "perfbench"
    cp = build.classpath(root, build_dir)
    phases, t0 = {}, time.monotonic()
    work = root / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "inputs"
    inputs.mkdir(parents=True)
    job_seed = a.seed
    if a.workload == "paper_job":
        gen.blobs_csv(str(inputs / "points.csv"), PAPER_POINTS, a.seed)
        job_seed = paper_cli_seed(str(inputs / "points.csv"), a.seed)
    cores = nproc()
    phases["inputs_s"], t0 = time.monotonic() - t0, time.monotonic()
    steal0, total0 = cpu_ticks()
    res, spans = run_harness(cp, a, work, inputs, cores, job_seed)
    steal1, total1 = cpu_ticks()
    phases["harness_s"], t0 = time.monotonic() - t0, time.monotonic()
    attempted, failed, reasons = check_ops(a.workload, res, inputs, job_seed, work,
                                           build_dir / "twins.json")
    phases["checks_s"] = time.monotonic() - t0

    if a.trace:
        points = PAPER_POINTS if a.workload == "paper_job" else 0
        values, report = layers.per_layer(spans, res["ops"], cores, points, res["serial_s"])
        (work / "layers.json").write_text(json.dumps(report, indent=1, sort_keys=True))
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res).items()}

    shutil.rmtree(work / "ops", ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    for tag, errs in sorted(reasons.items()):
        sys.stderr.write(f"perfbench: {tag} failed its check: {'; '.join(errs)[:500]}\n")
    load = " ".join(f"{x:.2f}" for x in os.getloadavg())
    summary = {
        "workload": a.workload, "seed": a.seed, "job_seed": job_seed,
        "nproc": cores, "loadavg": load,
        "cpu_steal": round((steal1 - steal0) / max(1, total1 - total0), 3),
        "setup_s": round(res["setup_s"], 2),
        "warmup_s": [round(w, 2) for w in res["warmup_s"]],
        "ops": attempted, "fail_share": failed / attempted,
        "wall_s": [o["wall_s"] for o in res["ops"]],
        "phases": {k: round(v, 2) for k, v in phases.items()},
    }
    if a.workload in REFERENCE:
        summary["reference"] = REFERENCE[a.workload]
    print("perfbench " + json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
