"""The repo's benchmark: WARC -> extract -> snapshot commit -> curated shards.

    python3 perfbench/run.py --workload warc_commit --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the seeded
corpus (cached under .bench_build by seed, size and generator versions),
then runs the workload in one JVM: warm-up and timed reps at local[4] over
the workload's WARC files and, untraced, local[1] over a quarter of them.
Correctness is checked after every timed rep. The last stdout line is one
JSON object; `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. A readable summary goes to stderr. See perfbench/README.md
for every metric.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["warc_commit", "curate_shards"]

# Corpus: 60/25/10/5 html/pdf/text/empty, HTML section counts x BOOST.
DOCS = 3200
FILES = 32
BOOST = 8
# One JVM per run, heap well under the host's RAM; its local[4] and
# local[1] phases each get a fresh SparkContext.
HEAP = "2g"
# Each workload reads the corpus files f with f % stride == 0 at local[4];
# local[1] reads a quarter of those (stride x 4), so each core does the
# same work. A curation rep is bound by a floor of ~60 Spark jobs: 800 docs
# cost no more per rep than 400, 1,600 add a fifth to its wall (see
# perfbench/README.md), so it curates a quarter of the corpus.
STRIDE = {"warc_commit": 1, "curate_shards": 4}
JVM_TIMEOUT_S = 170

JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UseG1GC",
]



def metric_units(kind):
    """(name, unit) of each `end_to_end` or `per_layer` metric in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def java(cp, main, args, work, log_name):
    """Runs one JVM to completion; returns its stdout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + JAVA_OPTS + ["-cp", cp, main] + args)
    log_path = os.path.join(work, log_name)
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"{main} timed out after {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{main} exited {p.returncode}:\n{tail}")
    return out


def workload_jvm(cp, corpus, workload, cores, seconds, trace, work, launch_ms):
    """Runs the workload at each core count in one JVM; returns its result.
    Its `setup_s` counts from `launch_ms` (epoch ms)."""
    out = java(cp, "graft.perfbench.Workload",
               [workload, corpus, str(STRIDE[workload]), ",".join(map(str, cores)), f"{seconds:.3f}",
                str(trace), f"{launch_ms:.3f}", work],
               work, f"{workload}.log")
    with open(os.path.join(work, f"{workload}.log")) as fh:
        for line in fh:
            if line.startswith("perfbench:"):
                log("  " + line.rstrip())
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    raise RuntimeError(f"{workload} printed no result")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def rates(res, cores):
    """Per-rep docs/s and CPU s per 1,000 docs of the untraced reps at `cores`."""
    docs = res["docs"][str(cores)]
    reps = [r for r in res["reps"] if r["cores"] == cores and not r["traced"]]
    return [docs / r["wall_s"] for r in reps], [r["cpu_s"] / docs * 1000.0 for r in reps]


def summary(name, xs, unit):
    lo, mid, hi = quartiles(xs)
    return f"  {name:<22} median {mid:.4g} {unit} (q1 {lo:.4g}, q3 {hi:.4g}, n={len(xs)})"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"perfbench: build failed: {e}")
        return 2

    base = os.path.join(build.OUT, "work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        corpus = java(cp, "graft.perfbench.Corpus",
                      [os.path.join(build.OUT, "corpus"), str(a.seed), str(DOCS), str(FILES), str(BOOST),
                       str(min(4, os.cpu_count() or 1))], work, "corpus.log").strip().splitlines()[-1]
        log(f"perfbench: corpus {os.path.basename(corpus)} ready in {time.time() - t0:.1f} s")
        launch_ms = time.time() * 1000.0
        res = workload_jvm(cp, corpus, a.workload, [4] if a.trace else [4, 1], a.seconds, a.trace, work, launch_ms)
        if a.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")
            shutil.move(os.path.join(work, "spans.jsonl"), spans)
            log(f"perfbench: spans written to {os.path.relpath(spans, ROOT)}")
    except RuntimeError as e:
        log(f"perfbench: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    log(f"perfbench: {a.workload} seed {a.seed}: mismatch_ratio {failed / max(attempted, 1):.6g} "
        f"({failed} failed of {attempted} checks)")
    for note in res["notes"]:
        log(f"  FAIL {note}")
    dps4, cpk4 = rates(res, 4)
    log(summary("docs_per_s local[4]", dps4, "docs/s"))
    log(summary("cpu_s_per_kdoc local[4]", cpk4, "s"))
    c = res["counts"]
    log(f"  host ALU control: {c.get('host.alu_gops_1t', 0):.3f} Gop/s (1t), "
        f"{c.get('host.alu_gops_4t', 0):.3f} Gop/s (4t)")

    if a.trace:
        merged = {**c, **res["layers"]}
        metrics = {name: {"value": merged.get(name, 0.0), "unit": unit} for name, unit in metric_units("per_layer")}
        self_s = sorted(((v, k) for k, v in res["self"].items() if k != "unexplained"), reverse=True)
        wall = statistics.median(r["wall_s"] for r in res["reps"] if r["traced"])
        log(f"  self time per layer (median over traced reps, rep wall {wall:.3f} s):")
        for v, k in self_s:
            log(f"    {k:<26} {v:8.3f} s  {v / wall:6.1%}")
        log(f"    {'unexplained':<26} {res['self'].get('unexplained', 0.0):8.3f} s")
        log("  top three costs: " + ", ".join(f"{k} ({v / wall:.0%})" for v, k in self_s[:3]))
        log(f"  tracing overhead: traced/untraced rep wall = {res['layers']['trace.overhead_ratio']:.3f}")
    else:
        dps1, _ = rates(res, 1)
        log(summary("docs_per_s local[1]", dps1, "docs/s"))
        values = {
            "setup_s": res["setup_s"],
            "docs_per_s": statistics.median(dps4),
            "cpu_s_per_kdoc": statistics.median(cpk4),
            "scaling_eff_1to4": statistics.median(dps4) / (4.0 * statistics.median(dps1)),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in metric_units("end_to_end")}
        for name, m in metrics.items():
            log(f"  {name:<22} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
