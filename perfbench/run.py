#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, a closed loop of runs.

    python3 perfbench/run.py --workload tsa_workbook --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Steps: build the program and the
benchmark's Scala server (skipped when unchanged), generate the seeded
inputs, compute the DuckDB oracle, start the program (one JVM, one Spark
session on GraftSession.local(n, n) with n = cores), set up (tsa_workbook
builds its observation store with LotjuIngest.ingest, checked against
the oracle), run warm-up runs, then run back to back for --seconds:
one client, the next run starts when the previous one has finished and
been checked. A run that throws or fails its check counts as failed and
is never timed.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 runs alternate untraced / traced and the metrics are the
per-layer ones (also written to .bench_build/trace/<workload>.json).

--workload all runs every workload in turn (one result line each).
--selftest corrupts the output of the first timed run before it is
checked and exits 0 only if the checker counted it as failed.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["tsa_workbook", "doc_curation"]
# untimed runs before the timed ones: op times fall for the first few
# runs of a JVM while the JIT compiles the hot paths
WARMUPS = {"tsa_workbook": 3, "doc_curation": 5}
# untraced runs timed at least, even past the window: the median of one
# run is too noisy when a run is longer than half the window
MIN_SAMPLES = 2
BUILD = build.BUILD

# user.timezone: TsaBatch renders summary timestamps in the JVM's zone.
# A fixed-size heap and the parallel collector: with G1's growing heap
# and its concurrent threads competing with the four task threads, run
# times kept falling for 6-8 runs and two runs of one JVM differed by
# up to a fifth; with these, they level off after 3-4 runs.
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
    "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
] + [o for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                 "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                 "java.base/java.nio", "java.base/java.util",
                 "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                 "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                 "java.base/sun.security.action", "java.base/sun.util.calendar")
     for o in ("--add-opens", p + "=ALL-UNNAMED")]

# spans that launch Spark jobs, and spans that launch none
JOB_SPANS = ["engine.run", "core.summary", "cli.condition_write", "cli.timeline",
             "cli.report", "ingest.run", "operators.quality", "operators.exact_dedup",
             "operators.near_dup", "sources.read", "sources.commit"]
TIME_SPANS = ["dsl.parse", "engine.release"]
SPAN_STATS = [("jobs", "count"), ("tasks", "count"), ("task_busy_s", "s"),
              ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("core_util", "ratio")]
COUNTS = [("core.conditions", "count"), ("core.blocks", "count"),
          ("core.result_ranges", "count"), ("core.jobs_per_condition", "count"),
          ("cli.files_written", "count"), ("cli.report_bytes", "bytes"),
          ("ingest.input_bytes", "bytes"), ("ingest.rows_in", "count"),
          ("ingest.rows_out", "count"), ("sources.files_written", "count"),
          ("sources.bytes_written", "bytes"), ("sources.bytes_per_row", "bytes/row"),
          ("operators.docs_in", "count"), ("operators.exact_removed", "count"),
          ("operators.near_removed", "count"), ("operators.near_dup_recall", "ratio"),
          ("sources.commits", "count"), ("op.jobs", "count"), ("op.peak_heap_mb", "MB"),
          ("trace.run_s", "s"), ("trace.overhead_s", "s")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for s in JOB_SPANS:
        out.append((f"{s}_s", "s"))
        out += [(f"{s}.{k}", u) for k, u in SPAN_STATS]
    out += [(f"{s}_s", "s") for s in TIME_SPANS]
    return out + COUNTS


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class Program:
    """The program-side JVM (perfbench.Server) and its reply stream."""

    def __init__(self, workload, inputs, work, cores, trace):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        self.stderr = open(os.path.join(work, "jvm.log"), "w")
        opts = JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
                           f"-Dspark.local.dir={work}/tmp",
                           f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                           f"-Dspark.sql.warehouse.dir={work}/warehouse"]
        self.proc = subprocess.Popen(
            ["java"] + opts + ["-cp", build.classpath(), "perfbench.Server",
                               "--workload", workload, "--inputs", inputs, "--work", work,
                               "--cores", str(cores), "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.stderr, text=True)

    def reply(self):
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                return json.loads(line[5:])
        raise RuntimeError("program exited early; see jvm.log")

    def run(self, out, traced):
        self.proc.stdin.write(f"run {out} {int(traced)}\n")
        self.proc.stdin.flush()
        return self.reply()["op"]

    def close(self):
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self.stderr.close()


def corrupt(workload, plan, out):
    """Damage one output the way a wrong program would."""
    if workload == "tsa_workbook":
        p = os.path.join(out, "bench_summary.csv")
        lines = open(p).read().split("\n")
        f = lines[1].rsplit(",", 8)
        f[1] = str(int(f[1]) + 60)          # valid_s of the first condition
        lines[1] = ",".join(f)
        open(p, "w").write("\n".join(lines))
    else:
        with open(os.path.join(out, "survivors.txt"), "a") as f:
            f.write("%d\n" % plan["exact"][0])


def ops_in(workload, plan):
    """Operations in one run: conditions, or curation batches."""
    if workload == "tsa_workbook":
        return sum(len(s["conditions"]) for s in plan["sheets"])
    return plan["batches"]


def check(workload, plan, exp, out):
    """(ops failed, problems, counts, digest) of one run's output."""
    if workload == "tsa_workbook":
        verdict, counts, digest = oracle.check_tsa(exp, out)
        bad = [v for v in verdict.values() if v]
        return len(bad), bad, counts, digest
    problem, counts, digest = oracle.check_curation(plan, out)
    return (plan["batches"] if problem else 0), [problem] if problem else [], counts, digest


def dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith(".") and not f.startswith("_")]
    return len(files), sum(os.path.getsize(f) for f in files)


class Loop:
    """Runs, checks and times operations; keeps the failure accounting."""

    def __init__(self, workload, plan, exp, prog, root, selftest):
        self.workload, self.plan, self.exp, self.prog = workload, plan, exp, prog
        self.root, self.selftest = root, selftest
        self.attempted = self.failed = 0
        self.problems = []
        self.samples = {False: [], True: []}   # untraced / traced: (secs, reply, counts)
        self.digest = None
        self.n = 0

    def record(self, ops, failed, problems):
        self.attempted += ops
        self.failed += failed
        self.problems += problems

    def one(self, traced, timed, corrupt_it=False):
        self.n += 1
        out = os.path.abspath(os.path.join(self.root, "out", str(self.n)))
        t0 = time.monotonic()
        op = self.prog.run(out, traced)
        if corrupt_it:
            corrupt(self.workload, self.plan, out)
        ops = ops_in(self.workload, self.plan)
        if op["ok"]:
            f, probs, counts, digest = check(self.workload, self.plan, self.exp, out)
            # every run of one seed, traced or not, must write the same output
            if not f and self.digest is None:
                self.digest = digest
            elif not f and digest != self.digest:
                f, probs = ops, [f"output differs from the first run's ({digest})"]
        else:
            f, probs, counts = ops, [op["error"]], {}
        secs = time.monotonic() - t0
        self.record(ops, f, probs)
        if not f and timed:
            counts["files_written"], _ = dir_stats(out)
            counts["report_bytes"] = dir_stats(os.path.join(out, "plots"))[1] + sum(
                os.path.getsize(os.path.join(out, p)) for p in ("bench.xlsx", "bench.pptx")
                if os.path.exists(os.path.join(out, p)))
            self.samples[traced].append((secs, op, counts))
        shutil.rmtree(out, ignore_errors=True)
        return secs

    def measure(self, seconds, trace):
        """Closed loop: start another run while it fits in the window,
        until the untraced lane has MIN_SAMPLES runs and the traced lane
        one; stop early if nothing succeeds."""
        t0 = time.monotonic()
        k, last = 0, 0.0
        while True:
            full = (len(self.samples[False]) >= MIN_SAMPLES
                    and (self.samples[True] or not trace))
            if full and time.monotonic() - t0 + last > seconds:
                break
            if k >= 3 and not self.samples[False]:
                break
            last = self.one(bool(trace) and k % 2 == 1, timed=True,
                            corrupt_it=self.selftest and k == 0)
            k += 1


def run_workload(workload, seed, seconds, trace, selftest=False):
    t_start = time.monotonic()
    root = os.path.join(BUILD, "work", workload)
    shutil.rmtree(root, ignore_errors=True)
    inputs = os.path.join(root, "inputs")
    plan = gen.generate(workload, seed, inputs)
    exp = oracle.expected(plan, inputs)
    cores = len(os.sched_getaffinity(0))

    t_launch = time.monotonic()
    prog = Program(workload, os.path.abspath(inputs), os.path.abspath(root), cores, trace)
    loop = Loop(workload, plan, exp, prog, root, selftest)
    setup, setup_s, store = None, 0.0, {}
    t_ready = t_launch
    try:
        setup = prog.reply()["setup"]
        t_ready = time.monotonic()
        problem = None if setup["ok"] else setup["error"]
        if workload == "tsa_workbook":
            # the set-up ingest is an operation too, checked like one
            if not problem:
                problem, store = oracle.check_store(exp, os.path.join(root, "store"))
            loop.record(1, int(problem is not None), [problem] if problem else [])
        elif problem:
            loop.record(1, 1, [problem])
        if not loop.failed:
            for _ in range(WARMUPS[workload]):
                loop.one(False, timed=False)
            setup_s = time.monotonic() - t_launch
            loop.measure(seconds, trace)
    finally:
        prog.close()

    run_s = [s for s, _, _ in loop.samples[False]]
    if trace:
        metrics = layer_metrics(workload, plan, setup, loop.samples, store)
    else:
        metrics = {"run_s": dict(value=statistics.median(run_s) if run_s else 0.0, unit="s"),
                   "setup_s": dict(value=setup_s, unit="s")}
    log(f"{workload} seed {seed}: inputs and oracle {t_launch - t_start:.1f} s, program ready "
        f"{t_ready - t_launch:.1f} s, whole run {time.monotonic() - t_start:.1f} s")
    log(f"{workload} seed {seed}: {len(run_s)} timed runs, failed_frac "
        f"{loop.failed / max(loop.attempted, 1):.4f}, setup {setup_s:.3f} s, run_s "
        f"{' '.join(f'{s:.3f}' for s in run_s)}")
    for p in loop.problems[:10]:
        log("  FAILED: " + str(p))
    if not selftest:
        shutil.rmtree(root, ignore_errors=True)
    result = dict(correct=not loop.failed, attempted=max(loop.attempted, 1),
                  failed=loop.failed, metrics=metrics)
    return result, len(run_s)


def layer_metrics(workload, plan, setup, samples, store):
    """Per-layer metrics: per-run means over the traced runs (set-up
    spans, i.e. the store build, count once)."""
    m = {name: 0.0 for name, _ in per_layer_names()}
    traced = samples[True]
    n = max(len(traced), 1)

    def add_spans(spans, scale):
        for name, s in spans.items():
            m[f"{name}_s"] += s["s"] * scale
            if name in JOB_SPANS:
                for k, _ in SPAN_STATS[:-1]:
                    m[f"{name}.{k}"] += s[k] * scale

    cores = setup["cores"] if setup else 1
    if setup:
        add_spans(setup["spans"], 1.0)
    for _, op, counts in traced:
        add_spans(op["spans"], 1.0 / n)
        m["op.jobs"] += op["jobs"] / n
        m["op.peak_heap_mb"] += op["heap_mb"] / n
        c = op["counts"]
        if workload == "tsa_workbook":
            m["core.jobs_per_condition"] += op["jobs"] / ops_in(workload, plan) / n
            m["core.result_ranges"] += counts.get("result_ranges", 0) / n
            m["cli.files_written"] += counts["files_written"] / n
            m["cli.report_bytes"] += counts["report_bytes"] / n
        else:
            m["operators.docs_in"] += c.get("docs_in", 0) / n
            m["operators.exact_removed"] += (c.get("quality_kept", 0)
                                             - c.get("exact_kept", 0)) / n
            m["operators.near_removed"] += (c.get("exact_kept", 0) - c.get("near_kept", 0)) / n
            m["operators.near_dup_recall"] += counts.get("near_dup_recall", 0) / n
            m["sources.commits"] += c.get("commits", 0) / n
    if workload == "tsa_workbook":
        m["core.conditions"] = ops_in(workload, plan)
        m["core.blocks"] = sum(len(c["blocks"]) for s in plan["sheets"] for c in s["conditions"])
        m["ingest.input_bytes"] = plan["input_bytes"]
        m["ingest.rows_in"] = plan["rows_in"]
        m["ingest.rows_out"] = store.get("rows_out", 0)
        for k in ("files_written", "bytes_written", "bytes_per_row"):
            m["sources." + k] = store.get(k, 0)
    for s in JOB_SPANS:
        wall = m[f"{s}_s"]
        m[f"{s}.core_util"] = m[f"{s}.task_busy_s"] / (wall * cores) if wall > 0 else 0.0
    untraced = [s for s, _, _ in samples[False]]
    if traced and untraced:
        t = statistics.median(s for s, _, _ in traced)
        m["trace.run_s"] = t
        m["trace.overhead_s"] = t - statistics.median(untraced)
    units = dict(per_layer_names())
    out = {k: dict(value=v, unit=units[k]) for k, v in m.items()}
    os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
    with open(os.path.join(BUILD, "trace", f"{workload}.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        build.build()
    except SystemExit as e:
        log(f"build failed: {e}")
        sys.exit(2)
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        result, timed = run_workload(w, a.seed, a.seconds, a.trace, a.selftest)
        if a.selftest:
            ok = result["failed"] >= 1 and not result["correct"]
            log(f"selftest {w}: corrupted run counted as failed: {ok}; "
                f"{timed} runs timed, the corrupted one not among them")
            if not ok:
                sys.exit(1)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
