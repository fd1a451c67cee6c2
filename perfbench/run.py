"""graft's benchmark: three closed-loop workloads driven through graft's
public API, with end-to-end metrics and a traced per-layer run.

    python3 perfbench/run.py --workload probe_join --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, full report

Run it from the root of a checkout. It builds graft and the benchmark's JVM
side from source (perfbench/build.py), runs that in a fresh JVM inside a per-run
directory that is removed afterwards, prints a report of every metric by
name with unit and direction, and as its last line the JSON result:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and the
``per_layer`` metrics with ``--trace 1``. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
from stats import median, tail, union_length  # noqa: E402

WORKLOADS = ["probe_join", "ingest", "dedup_corpus"]
# seeds 1-10 were used while the benchmark was written; a claim is also
# checked on this one
HELD_OUT_SEED = 7919
# the workload's headline op: op_p50_s and the tracing overhead use it
HEADLINE = {"probe_join": "join", "ingest": "update", "dedup_corpus": "dedup"}

MB = 1e6


# ---- running the benchmark JVM ---------------------------------------------

def cpu_jiffies():
    """(all, steal) CPU time of the machine from /proc/stat, or None where
    there is none. Steal is time a virtual machine's CPUs were runnable but
    the host ran something else."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None
    return (sum(t), t[7]) if len(t) == 8 else None


def run_jvm(root, jvm, workload, seed, seconds, trace, deadline):
    """Run one workload in a fresh JVM; return its raw result dict."""
    runs = root / ".bench_runs"
    run_dir = runs / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log = run_dir.parent / f"{run_dir.name}.log"
    try:
        cmd = ["java"] + jvm + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "perfbench.Main",
                                workload, str(seed), str(seconds), str(trace), str(run_dir)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
        cpu0 = cpu_jiffies()
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                    cwd=run_dir, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
        if code != 0:
            lines = [x for x in log.read_text().splitlines()
                     if not x.lstrip().startswith(("at ", "... "))]
            raise RuntimeError(f"benchmark JVM exited with {code}:\n" + "\n".join(lines[-40:]))
        raw = json.loads((run_dir / "result.json").read_text())
        cpu1 = cpu_jiffies()
        raw["steal_frac"] = ((cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
                             if cpu0 and cpu1 and cpu1[0] > cpu0[0] else None)
        return raw
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        log.unlink(missing_ok=True)
        try:
            runs.rmdir()
        except OSError:
            pass


# ---- metrics ---------------------------------------------------------------

def ok_seconds(ops, kind=None, phase="measure"):
    return [o["s"] for o in ops
            if o["ok"] and o["phase"] == phase and (kind is None or o["kind"] == kind)]


def end_to_end(raw):
    """Every end-to-end metric of one run: {name: value}, plus tail
    percentiles {name: percentile}. The BENCHMARK.json subset is taken from
    these; the rest are reported beside it."""
    w, ops = raw["workload"], raw["ops"]
    busy = sum(ok_seconds(ops))
    m = {"setup_s": median(raw["setup_s"]), "datagen_s": raw["datagen_s"],
         "cached_mb": raw["cached_mb"],
         "failed_frac": sum(not o["ok"] for o in ops) / max(1, len(ops))}
    pct = {}

    def latency(name, kind, with_tail=False):
        xs = ok_seconds(ops, kind)
        m[name + "_p50_s"] = median(xs)
        if with_tail:
            m[name + "_tail_s"], pct[name + "_tail_s"] = tail(xs)

    if w == "probe_join":
        latency("join", "join", with_tail=True)
        latency("sql_join", "sql_join")
        latency("lookup", "lookup")
        latency("scatter_join", "scatter_join")
        read = [o["extra"] for o in ops if o["phase"] == "measure" and "located_bytes" in o["extra"]]
        m["bytes_read_frac"] = (sum(e["located_bytes"] for e in read)
                                / max(1, sum(e["total_bytes"] for e in read)))
        work = len(ok_seconds(ops))
    elif w == "ingest":
        m["build_s"] = median(raw["build_s"])
        latency("update", "update", with_tail=True)
        latency("fresh_probe", "fresh_probe")
        work = len(ok_seconds(ops, "update"))
        m["ingest_files_per_s"] = work / busy if busy else 0.0
    else:
        latency("dedup", "dedup")
        work = len(ok_seconds(ops, "dedup")) * raw["docs"]
        m["dedup_docs_per_s"] = work / busy if busy else 0.0
    if "store_bytes" in raw:
        m["index_bytes_per_data_byte"] = raw["store_bytes"] / max(1, raw["registered_bytes"])
    m["op_p50_s"] = m[HEADLINE[w] + "_p50_s"]
    m["work_per_s"] = work / busy if busy else 0.0
    return m, pct


def per_layer(raw):
    """Per-layer metrics of the traced phase, from the spans and jobs the
    JVM side recorded. Spans are calls into one layer; a job belongs to the
    innermost span that was open on the thread that submitted it."""
    spans = {s["id"]: s for s in raw["spans"]}
    ops = raw["ops"]
    op_of = {o["trace_op"]: o for o in ops if o["trace_op"] >= 0}
    traced = [o for o in ops if o["phase"] == "traced"]
    dur = {i: (s["t1_ms"] - s["t0_ms"]) / 1e3 for i, s in spans.items()}

    under = {i: [] for i in spans}  # span id -> jobs in it or its descendants
    for j in raw["jobs"]:
        ids = [int(t.split("-")[1]) for t in j["tags"]]
        i = max(ids) if ids else -1
        while i >= 0:
            under[i].append(j)
            i = spans[i]["parent"]

    # the bulk index build runs in set-up, so its layers are traced there too
    def named(name, phases=("traced",)):
        return [i for i, s in spans.items()
                if s["name"] == name and op_of[s["op"]]["phase"] in phases]

    def p50(name, phases=("traced",)):
        return median(dur[i] for i in named(name, phases))

    def mean_jobs(name, f, phases=("traced",)):
        ids = named(name, phases)
        return sum(sum(f(j) for j in under[i]) for i in ids) / len(ids) if ids else 0.0

    def extra_sum(key, phase="traced"):
        return sum(o["extra"].get(key, 0.0) for o in ops if o["phase"] == phase)

    m = {}
    m["IndexProbe.locate_s"] = p50("IndexProbe")
    m["IndexProbe.jobs"] = mean_jobs("IndexProbe", lambda j: 1)
    probes = [o for o in traced if "files_located" in o["extra"]]
    m["IndexProbe.files_located"] = (sum(o["extra"]["files_located"] for o in probes)
                                     / len(probes) if probes else 0.0)
    m["IndexProbe.precision"] = (extra_sum("files_holding") / extra_sum("files_located")
                                 if extra_sum("files_located") else 0.0)
    m["IndexProbe.locate_cold_s"] = median(
        dur[i] for i in named("IndexProbe")
        if op_of[spans[i]["op"]]["extra"].get("cold"))

    m["FileReader.exec_s"] = p50("FileReader")
    m["FileReader.input_mb"] = mean_jobs("FileReader", lambda j: j["input_bytes"]) / MB
    m["FileReader.tasks"] = mean_jobs("FileReader", lambda j: j["tasks"])

    m["catalog.plan_s"] = p50("catalog.plan")
    m["catalog.exec_s"] = p50("catalog.exec")
    sql = [o for o in traced if o["kind"] == "sql_join" and o["ok"]]
    m["catalog.rewrite_frac"] = (sum(o["extra"]["rewritten"] for o in sql) / len(sql)
                                 if sql else 0.0)

    build = ("setup", "traced")
    m["IndexBuild.update_s"] = p50("IndexBuild", build)
    m["IndexBuild.jobs"] = mean_jobs("IndexBuild", lambda j: 1, build)
    m["IndexBuild.input_mb"] = mean_jobs("IndexBuild", lambda j: j["input_bytes"], build) / MB
    m["IndexBuild.shuffle_mb"] = mean_jobs(
        "IndexBuild", lambda j: j["shuffle_write_bytes"], build) / MB

    m["store.addfile_s"] = p50("store.addFile", build)
    m["store.delete_s"] = p50("store.deleteFiles")
    m["store.compact_s"] = p50("store.compact")
    m["store.bytes_mb"] = raw.get("store_bytes", 0) / MB
    m["store.files"] = float(raw.get("store_files", 0))
    m["store.write_amp"] = (raw["store_written_bytes"] / raw["data_ingested_bytes"]
                            if raw.get("data_ingested_bytes") else 0.0)

    for stage in ("signature", "candidates", "verify", "keep"):
        m[f"Dedup.{stage}_s"] = p50(f"Dedup.{stage}", ("breakdown",))
    m["Dedup.candidates"] = extra_sum("candidates", phase="breakdown")
    m["Dedup.verified_pairs"] = extra_sum("verified_pairs", phase="breakdown")
    m["Dedup.verify_yield"] = (m["Dedup.verified_pairs"] / m["Dedup.candidates"]
                               if m["Dedup.candidates"] else 0.0)
    m["Dedup.shuffle_mb"] = mean_jobs("Dedup", lambda j: j["shuffle_write_bytes"]) / MB
    m["Dedup.spill_mb"] = mean_jobs("Dedup", lambda j: j["spill_bytes"]) / MB

    roots = [i for i, s in spans.items()
             if s["parent"] < 0 and op_of[s["op"]]["phase"] == "traced"]
    job_s, driver_s = [], []
    for i in roots:
        s, jobs = spans[i], under[i]
        covered = union_length([(max(j["t0_ms"], s["t0_ms"]), min(j["t1_ms"], s["t1_ms"]))
                            for j in jobs]) / 1e3
        job_s.append(covered)
        driver_s.append(max(0.0, dur[i] - covered))
    jobs = [j for i in roots for j in under[i]]
    run_ms = sum(j["run_ms"] for j in jobs)
    n = max(1, len(roots))
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.tasks_per_op"] = sum(j["tasks"] for j in jobs) / n
    m["spark.job_s"] = median(job_s)
    m["spark.driver_s"] = median(driver_s)
    m["spark.exec_cpu_frac"] = sum(j["cpu_ns"] for j in jobs) / 1e6 / run_ms if run_ms else 0.0
    m["spark.gc_frac"] = sum(j["gc_ms"] for j in jobs) / run_ms if run_ms else 0.0
    m["spark.shuffle_mb_per_op"] = sum(j["shuffle_write_bytes"] for j in jobs) / MB / n

    kind = HEADLINE[raw["workload"]]
    m["trace.overhead_s"] = (median(ok_seconds(ops, kind, "traced"))
                             - median(ok_seconds(ops, kind, "measure")))
    return m


def self_times(raw):
    """Median duration and self time (duration minus the part its child
    spans cover) of each span name in the traced run, in seconds."""
    spans = raw["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_name = {}
    for s in spans:
        d = (s["t1_ms"] - s["t0_ms"]) / 1e3
        own = d - union_length([(c["t0_ms"], c["t1_ms"]) for c in kids.get(s["id"], [])]) / 1e3
        by_name.setdefault(s["name"], []).append((d, own))
    return {k: (median(d for d, _ in v), median(o for _, o in v), len(v))
            for k, v in sorted(by_name.items())}


# ---- output ----------------------------------------------------------------

def load_spec(root):
    """(end_to_end, per_layer, run_seconds) of BENCHMARK.json; the metric
    lists are keyed by name."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return ({m["name"]: m for m in spec["end_to_end"]},
            {m["name"]: m for m in spec["per_layer"]}, spec["run_seconds"])


# units and directions of the end-to-end metrics reported beside BENCHMARK.json's
# (longest suffix first)
REPORT_UNITS = {"_per_s": ("1/s", "higher"), "_per_data_byte": ("ratio", "lower"),
                "_s": ("s", "lower"), "_mb": ("MB", "lower"), "_frac": ("ratio", "lower")}


def describe(name, spec):
    if name in spec:
        return spec[name]["unit"], spec[name]["better"]
    for suffix, ud in REPORT_UNITS.items():
        if name.endswith(suffix):
            return ud
    return "", ""


def report(raw, trace, e2e_spec, layer_spec):
    """Print every metric by name with unit and direction, then return the
    contract's result object."""
    w, ops = raw["workload"], raw["ops"]
    failed = [o for o in ops if not o["ok"]]
    e2e, pct = end_to_end(raw)
    print(f"== {w}  seed={raw['seed']}  seconds={raw['seconds']:g}  trace={int(trace)}"
          f"  held-out seed={HELD_OUT_SEED}")
    for o in failed:
        print(f"  FAILED {o['phase']} {o['kind']}: {o['err']}")
    for name, value in e2e.items():
        unit, better = describe(name, e2e_spec)
        extra = ""
        if name in pct:
            extra = (f"  (p{pct[name]:.1f})" if pct[name] is not None
                     else "  (fewer than 11 samples)")
        mark = "*" if name in e2e_spec else " "
        print(f"  {mark} {name:<28} {fmt(value):>14} {unit:<6} {better}{extra}")
    kinds = {}
    for o in ops:
        if o["phase"] == "measure":
            kinds.setdefault(o["kind"], []).append("x" if o["s"] is None else f"{o['s']:.3f}")
    for k, xs in kinds.items():
        print(f"    {k} latencies (s, in order; x = failed): {' '.join(xs)}")
    print(f"    session start {raw['session_s']:.3f} s; setup repetitions (s): "
          + ", ".join(f"{x:.3f}" for x in raw["setup_s"]))
    c0, c1 = raw["canary_ms"]
    steal = "n/a" if raw["steal_frac"] is None else f"{raw['steal_frac']:.3f}"
    print(f"    canary (single-thread loop, ms): start {c0:.2f}  end {c1:.2f}"
          f"  host steal share of the run: {steal}")
    if trace:
        layers = per_layer(raw)
        for name, value in layers.items():
            unit, better = describe(name, layer_spec)
            print(f"    {name:<28} {fmt(value):>14} {unit:<6} {better}")
        print("    span (set-up and traced phase)   p50 s     self p50 s   n")
        for name, (d, own, n) in self_times(raw).items():
            print(f"    {name:<28} {d:>9.4f} {own:>12.4f} {n:>4}")
        metrics = {k: layers[k] for k in layer_spec}
    else:
        metrics = {k: e2e[k] for k in e2e_spec}
    correct = not failed
    print(f"    correct: {str(correct).lower()}  attempted={len(ops)}  failed={len(failed)}"
          "  (* = BENCHMARK.json end_to_end)")
    return {"correct": correct, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": describe(k, {**e2e_spec, **layer_spec})[0]}
                        for k, v in metrics.items()}}


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


# ---- main ------------------------------------------------------------------

def main(argv=None):
    # on SIGTERM, unwind so that run_jvm kills the JVM and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    root = Path.cwd()
    try:
        e2e_spec, layer_spec, run_seconds = load_spec(root)
        seconds = args.seconds or run_seconds
        t0 = time.monotonic()
        classpath, cds = build.build(root)
        jvm = build.JVM_FLAGS + cds + ["-cp", os.pathsep.join(classpath)]
        built = time.monotonic() - t0 > 5
    except (build.BuildError, OSError, ValueError) as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2
    # one run: session, data generation, three set-ups, the 10 s warm-up and
    # the breakdown fit in the fixed margin; the measured phases (twice as
    # long when traced) get 1.5 times their length. At the default 20 s this
    # is 130 s untraced and 160 s traced, inside the 180 s a run may take; a
    # run that compiled graft may take 900 s.
    allowance = 100 + 1.5 * seconds * (2 if args.trace else 1)
    deadline = start + allowance + (710 if built else 0)
    results, ambient = {}, {}
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        if args.workload == "all" and w != WORKLOADS[0]:
            deadline = time.monotonic() + allowance
        try:
            raw = run_jvm(root, jvm, w, args.seed, seconds, args.trace, deadline)
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            print(f"[perfbench] {w}: {e}", file=sys.stderr)
            return 1
        results[w] = report(raw, args.trace, e2e_spec, layer_spec)
        ambient[w] = {"canary_ms": {"start": raw["canary_ms"][0], "end": raw["canary_ms"][1]},
                       "steal_frac": raw["steal_frac"]}
    # the ambient load beside the result, as JSON: the result line itself
    # holds exactly correct, attempted, failed and metrics
    print(json.dumps(ambient if args.workload == "all" else ambient[args.workload]))
    if args.workload == "all":
        print(json.dumps(results))
    else:
        print(json.dumps(results[args.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
