#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload headline|sweep|flows --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run builds the program and the
harness with sbt (offline) into .bench_build/; later runs start the JVM
directly. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A fuller record
(including nproc, par, seed, heap, Spark version and git SHA) goes to
.perfbench_out/, and a traced run also writes its spans there; see
trace_report.py. perfbench/README.md describes the workloads and metrics.

The tables are the fixed testdata: $GRAFT_TESTDATA if set, else the
directory TESTDATA.md names. Everything the run writes stays
under the repository root and is removed at the end, except .bench_build/
and .perfbench_out/.
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

import trace_report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".perfbench_out")
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "4g"
RUN_LIMIT_S = 170

WORKLOADS = ("headline", "flows")
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "cpu_s": "s", "heap_live_peak_gib": "GiB"}
HEADLINE = ["q01_pricing_summary", "q03_segment_revenue", "q05_nation_revenue",
            "q08_dedup_keepfirst", "q30_term_freq", "q31_bigram_freq", "q44_dedup_embedding",
            "q45_dedup_survivors", "q46_ngram123", "q50_knn_bruteforce", "q60_tumbling_window",
            "q121_bpe_merges", "q137_neardup_decontaminate", "q143_contamination_ladder",
            "q254_image_decode", "q255_knn_batch", "q259_chunk_dedup", "q268_hygiene_funnel"]
KERNELS = ["FloatVecDot", "HyperplaneSketch", "MinHashSigs", "InternTokens",
           "ShingleFps", "GopherStats", "SortedLongIntersectCount"]
FLOWS = ["fetchArticles", "queryArticles", "suggestTerms", "buildTree", "corpusFlow",
         "selectionFlow"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def per_layer_units():
    """Name -> unit of every per-layer metric, in report order."""
    units = {"tables.prepare_s": "s", "tables.scan_s": "s", "tables.scan_tasks": "count",
             "operators.construct_s": "s", "operators.construct_jobs": "count"}
    units.update({f"op.{q}.s": "s" for q in HEADLINE})
    units.update({"plans.plan_s": "s", "plans.scan_nodes_per_table": "ratio",
                  "plans.exchanges": "count", "plans.reused_exchange_share": "ratio",
                  "plans.codegen_stages": "count",
                  "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
                  "exec.tasks": "count", "exec.shuffle_write_mib": "MiB",
                  "exec.shuffle_read_mib": "MiB", "exec.spill_mib": "MiB",
                  "exec.task_skew": "ratio", "exec.core_busy_share": "ratio"})
    units.update({f"functions.{k}.ns_per_row": "ns" for k in KERNELS})
    units.update({"sinks.bytes_written_mib": "MiB", "sinks.files_written": "count",
                  "sinks.write_stage_s": "s"})
    units.update({f"flow.{f}.s": "s" for f in FLOWS})
    units.update({"gate.concurrency": "ratio", "jvm.gc_s": "s", "jvm.alloc_gib": "GiB",
                  "self.op.s": "s", "self.construct.s": "s", "self.plan.s": "s",
                  "self.execute.s": "s", "self.job.s": "s", "self.stage.s": "s"})
    return units


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    tops = ["src/main", "perfbench/src", "project/build.properties", "build.sbt",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    stamp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building with sbt")
    t0 = time.monotonic()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if p.returncode != 0:
        errors = [l for l in p.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40]) + "\n")
        raise SystemExit("perfbench: build failed")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.0f} s")
    return lines[-1].strip()


def testdata_root():
    """$GRAFT_TESTDATA, else the directory that TESTDATA.md lists the scale
    factors under."""
    if os.environ.get("GRAFT_TESTDATA"):
        return os.environ["GRAFT_TESTDATA"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]+)/sf0\.001/?`", f.read())
    if not m:
        raise SystemExit("perfbench: TESTDATA.md names no testdata directory")
    return m.group(1)


def run_jvm(cp, args, check, data, work, deadline):
    """Runs the harness JVM in its own process group; kills it at the deadline."""
    result = os.path.join(work, "result.json")
    spans = spans_path(args)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
                          str(args.seconds), str(args.trace), str(int(check)), data,
                          work, result, spans, str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(re.sub(r"(-cp|classpath)\s+\S+", r"\1 <elided>", tail))
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    with open(result) as f:
        return json.load(f)


def spans_path(args):
    return os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")


def cores():
    return len(os.sched_getaffinity(0))


def oracle_failures(sf_dir, out_dir, names, deadline):
    """Names whose Verify dump is missing or differs from the DuckDB oracle."""
    failed = {n for n in names if not os.path.exists(os.path.join(out_dir, n, "_SUCCESS"))}
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = set(json.load(f))
    todo = sorted((set(names) & oracle) - failed)
    if todo:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                            sf_dir, out_dir] + todo, cwd=ROOT, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=max(1, deadline - time.monotonic()))
        passed = set(re.findall(r"^PASS (\S+)", p.stdout, re.M))
        failed |= set(todo) - passed
    return failed


def observed_digests(res):
    """{(pass, op): {dataset: digest}} of a run's outputs."""
    seen = {}
    for o in res["ops"]:
        if o["digest"]:
            seen.setdefault((o["pass"], o["name"]), {})["."] = o["digest"]
    for d in res["digests"]:
        seen.setdefault((d["pass"], d["flow"]), {})[d["dataset"]] = d["digest"]
    return seen


def record_expected(res):
    """Expected digests taken from the run's first pass."""
    return {op: got for (k, op), got in observed_digests(res).items() if k == 0}


def digest_failures(res, expected):
    """(pass, op) pairs whose outputs differ from the expected digests, or
    that have expected outputs and produced none."""
    seen = observed_digests(res)
    return ({(k, op) for (k, op), got in seen.items() if got != expected.get(op)}
            | {(o["pass"], o["name"]) for o in res["ops"]
               if o["name"] in expected and (o["pass"], o["name"]) not in seen})


def count_failed(res, bad_names, bad_pass_ops):
    return sum(1 for o in res["ops"]
               if not o["ok"] or o["name"] in bad_names or (o["pass"], o["name"]) in bad_pass_ops)


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def end_to_end(res):
    ops = [o["s"] for o in res["ops"] if o["ok"]] or [o["s"] for o in res["ops"]]
    passes = res["passes"]
    return {
        "setup_s": statistics.median(res["setups_s"]),
        "wall_s": statistics.median(p["wallS"] for p in passes),
        "op_p50_s": statistics.median(ops),
        "op_p90_s": quantile(ops, 0.9),
        "cpu_s": statistics.median(p["cpuS"] for p in passes),
        # No collection during the passes leaves the occupancy at their end.
        "heap_live_peak_gib": quantile(res["heap_after_gc_gib"] or [res["heap_used_gib"]],
                                       0.9),
    }


def span_layers(spans, passes):
    """Per-pass self time of each span kind, and the construct, plan and
    execute phase totals, from the traced run's spans."""
    selfs = trace_report.self_times(spans)
    out = {}
    for s in spans:
        key = f"self.{s['name'].split(' ')[0]}.s"
        out[key] = out.get(key, 0.0) + selfs[s["id"]] / 1e3 / passes
    for name, key in (("construct", "operators.construct_s"), ("plan", "plans.plan_s"),
                      ("execute", "exec.exec_s")):
        out[key] = sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1e3 / passes
    return out


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write the observed output digests to perfbench/expected/; "
                         "refused unless the run's Verify dumps match the DuckDB oracle")
    args = ap.parse_args(argv)

    for needed in ("src/main/scala/graft/SparkEntry.scala", "tools/compare_oracle.py",
                   "build.sbt", "TESTDATA.md"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            raise SystemExit(f"perfbench: {needed} is missing; run from a full checkout")
    data = testdata_root()
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: no testdata at {data}")

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    with open(exp_path) as f:
        expected = json.load(f)
    check = args.trace == 1 or args.record_expected
    try:
        res = run_jvm(cp, args, check, data, work, deadline)
        bad_names, bad_pass_ops = set(), set()
        for dump in res["dumps"]:
            names = sorted(set(o["name"] for o in res["ops"]))
            bad_names |= oracle_failures(dump["sf"], dump["dir"], names, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.record_expected:
        if bad_names or any(not o["ok"] for o in res["ops"]):
            raise SystemExit("perfbench: not recording; the run failed its checks: "
                             + ", ".join(sorted(bad_names)))
        expected = record_expected(res)
        with open(exp_path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    bad_pass_ops |= digest_failures(res, expected)

    attempted = len(res["ops"])
    failed = count_failed(res, bad_names, bad_pass_ops)
    e2e = end_to_end(res)
    layer_units = per_layer_units()
    measured = dict(res["layers"])
    if args.trace:
        with open(spans_path(args)) as f:
            measured.update(span_layers([json.loads(l) for l in f if l.strip()],
                                        len(res["passes"])))
    layers = {k: float(measured.get(k, 0.0)) for k in layer_units}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "par": res["par"], "sf": res["sf"],
        "heap_max_gib": res["heap_max_gib"], "spark_version": res["spark_version"],
        "git_sha": git_sha(), "attempted": attempted, "failed": failed,
        "failed_checks": sorted(bad_names) + sorted(f"pass{k}:{f}" for k, f in bad_pass_ops),
        "end_to_end": e2e, "per_layer": layers, "passes": res["passes"],
        "setups_s": res["setups_s"], "ops": res["ops"],
    }
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
