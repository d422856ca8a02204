"""Benchmark entry point: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine with the harness (see
build.py), generates the workload's inputs from the seed, runs the harness
(set-up with the cold-start check, timed passes, check pass), checks the
outputs and prints two JSON lines: run metadata, then the result
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. A full report of every run is kept in .bench_build/perfbench/reports/.
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes. Play Store: a tenth of 300k store rows and 600k review rows,
# the size at which the paper pipeline's pass was first profiled, with its
# two review rows per store row. Corpus: the row counts of the engine's
# sf0.01 testdata (500 documents, 10,000 events), a tenth of sf0.1. Both
# are cut by ten so that a run, whose set-up alone replays every query cold
# and twice warm, fits in about a minute.
PLAYSTORE_STORE_ROWS = 30000
PLAYSTORE_REVIEW_ROWS = 60000
CORPUS_DOCS = 500
CORPUS_EVENTS = 10000

WORKLOADS = ("playstore_etl", "dedup_loops")
JVM_HEAP = "2g"
# The JVM may run this long past --seconds: start-up, the cold-start and
# warm-up passes, the last timed pass and the check pass.
JVM_ALLOWANCE_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def benchmark_metrics(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics of
    BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def tail(values):
    """The highest percentile with at least ten samples beyond it (the
    11th-largest value), with that percentile and the sample count. With
    fewer than 11 samples no percentile qualifies, and the maximum is
    given, as percentile 100."""
    n = len(values)
    if n < 11:
        return max(values), 100.0, n
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def span_self_times(spans):
    """Self time per span name, summed per traced pass: a span's duration
    minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    totals = {}
    for s in spans:
        covered, end = 0, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = c["start_ns"], c["end_ns"]
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        totals[s["name"]] = totals.get(s["name"], 0.0) + \
            (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return totals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(build.BUILD_DIR, "runs", run_id)
    data_dir, out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    phases = {}
    t_phase = time.monotonic()

    def phase_done(name):
        nonlocal t_phase
        now = time.monotonic()
        phases[name] = now - t_phase
        t_phase = now

    try:
        if args.workload == "playstore_etl":
            facts = gen.playstore(args.seed, data_dir, PLAYSTORE_STORE_ROWS,
                                  PLAYSTORE_REVIEW_ROWS)
            inputs = {k: v for k, v in facts.items() if isinstance(v, int)}
        else:
            facts = gen.corpus(args.seed, data_dir, CORPUS_DOCS, CORPUS_EVENTS)
            inputs = dict(facts)
        inputs["generator_seed"] = args.seed
        phase_done("generate_s")

        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        env.pop("SPARK_GRAFT_MASTER", None)
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + [f"-Djava.io.tmpdir={tmp_dir}",
                  f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
                  "-Dspark.ui.enabled=false",
                  f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                  "graft.perfbench.Harness", args.workload, data_dir, out_dir,
                  str(args.seconds), str(args.trace)])
        timeout = JVM_ALLOWANCE_S + 2 * args.seconds
        try:
            with open(os.path.join(run_dir, "jvm.log"), "w") as log:
                proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                      cwd=run_dir, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness did not finish within {timeout:.0f} s")
        result_path = os.path.join(out_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"perfbench: harness exited with code {proc.returncode}")
        with open(result_path) as fh:
            res = json.load(fh)
        phase_done("harness_s")

        check_dir = os.path.join(out_dir, "check")
        if args.workload == "playstore_etl":
            verdicts = checks.check_playstore(facts, check_dir, os.path.join(out_dir, "writes"))
        else:
            verdicts = checks.check_oracles(data_dir, check_dir, res["oracle_sql"],
                                            os.path.join(build.BUILD_DIR, "oracle-cache"))
        phase_done("check_s")
        unchecked = [q for q in res["queries"] if q not in verdicts]
        for q in unchecked:
            verdicts[q] = "no output check for this query"

        # An execution is correct when it ran; a check-pass execution also
        # needs its output to pass the check.
        def ok(e):
            return e["error"] is None and (e["kind"] != "check"
                                           or verdicts.get(e["query"]) is None)

        cold = [e for e in res["executions"] if e["kind"] == "cold"]
        measured = [e for e in res["executions"] if e["kind"] != "cold"]
        cold_failed = [e["query"] for e in cold if not ok(e)]
        failed = [e for e in measured if not ok(e)]

        timed_passes = [p for p in res["passes"] if not p["traced"]]
        traced_passes = [p for p in res["passes"] if p["traced"]]
        query_walls = [e["wall_s"] for e in res["executions"] if e["kind"] == "timed"]
        tail_value, tail_pct, tail_n = tail(query_walls)
        pass_s = statistics.median(p["wall_s"] for p in timed_passes)

        # query_p50_s and cpu_s repeat within a run but not across JVMs
        # (JIT outcomes differ per process), so they are per-layer metrics;
        # every run still reports them in its metadata line.
        run_level = {
            "setup_s": res["setup_s"],
            "pass_s": pass_s,
            "query_p50_s": statistics.median(query_walls),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed_passes),
        }
        if args.trace == 0:
            metrics = {name: (run_level[name], unit)
                       for name, unit in benchmark_metrics("end_to_end")}
        else:
            with open(os.path.join(out_dir, "trace.json")) as fh:
                spans = json.load(fh)
            # self times per timed pass ("pass" spans) and of the check
            # pass ("check_pass" span), the only pass with a check span
            self_times = {"pass": {}, "check_pass": {}}
            roots = {s["id"]: s["name"] for s in spans if s["name"] in self_times}
            by_id = {s["id"]: s for s in spans}

            def root_of(s):
                while s["id"] not in roots and s["parent"] != -1:
                    s = by_id[s["parent"]]
                return s["id"] if s["id"] in roots else None

            for rid in roots:
                mine = [s for s in spans if root_of(s) == rid]
                for k, v in span_self_times(mine).items():
                    self_times[roots[rid]].setdefault(k, []).append(v)
            per_pass_self = self_times["pass"]
            traced_wall = statistics.median(p["wall_s"] for p in traced_passes)

            def layer(name):
                if name == "GraftSession.build_s":
                    return res["session_build_s"]
                if name == "peak_rss_mb":
                    return res["peak_rss_mb"]
                if name in run_level:
                    return run_level[name]
                if name == "trace.pass_s":
                    return traced_wall
                if name == "trace.overhead_frac":
                    return traced_wall / pass_s - 1.0
                if name == "query_tail_s":
                    return tail_value
                if name == "coldstart.failed":
                    return float(len(cold_failed))
                if name == "exec.core_util":
                    return statistics.median(
                        p["layers"].get("exec.task_cpu_s", 0.0) / (p["wall_s"] * cores)
                        for p in traced_passes)
                if name == "IO.write_s":
                    vals = per_pass_self.get("IO.write", [])
                    return statistics.median(vals) if vals else 0.0
                if name == "self.check_s":
                    return sum(self_times["check_pass"].get("check", [0.0]))
                if name.startswith("self.") and name.endswith("_s"):
                    vals = per_pass_self.get(name[len("self."):-len("_s")], [])
                    return statistics.median(vals) if vals else 0.0
                return statistics.median(p["layers"].get(name, 0.0) for p in traced_passes)

            metrics = {name: (layer(name), unit)
                       for name, unit in benchmark_metrics("per_layer")}

        attempted_all = len(measured) + len(cold)
        failed_all = len(failed) + len(cold_failed)
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": git_commit(),
            "build": os.path.basename(classes),
            "cores": res["default_parallelism"], "nproc": cores,
            "xmx": JVM_HEAP, "max_heap_mb": res["max_heap_mb"],
            "java": res["java_version"], "spark": res["spark_version"],
            "inputs": inputs, "queries": res["queries"],
            "client": "1 client, closed loop",
            "phases": phases,
            "run_metrics": run_level,
            "samples": {"pass_s": len(timed_passes), "query_p50_s": len(query_walls),
                        "cpu_s": len(timed_passes), "traced_passes": len(traced_passes)},
            "query_tail": {"value_s": tail_value, "percentile": tail_pct, "samples": tail_n},
            "failed_frac": {"value": failed_all / attempted_all, "failed": failed_all,
                            "attempted": attempted_all, "cold_start_failed": cold_failed,
                            "cold_start_attempted": len(cold)},
            "check_failures": {q: v for q, v in verdicts.items() if v is not None},
            "errors": sorted({f"{e['query']}: {e['error']}" for e in res["executions"]
                              if e["error"]}),
        }
        out = {
            "correct": not failed,
            "attempted": len(measured),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        reports = os.path.join(build.BUILD_DIR, "reports")
        os.makedirs(reports, exist_ok=True)
        with open(os.path.join(reports, run_id + ".json"), "w") as fh:
            json.dump({"meta": meta, "result": out, "harness": res}, fh)
        print(json.dumps({"meta": meta}))
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
