"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program if its sources changed (build.py), makes the
workload's inputs from the seed (gen.py), runs one JVM at local[4] that
sets up and then runs whole rounds of the workload for S seconds, checks
the outputs apart from the program (checks.py), and prints one JSON
object as the last line of stdout: correct, attempted, failed and the
end-to-end metrics (trace 0) or the per-layer metrics (trace 1). Every
file it writes stays under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["synth_tables", "llm_data"]
HEAP = "3g"
JVM_TIMEOUT_S = 165

# graft's build.sbt JVM options for Spark 4 on JDK 17, at a fixed heap
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(work, args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    opts += [
        "--add-modules=jdk.incubator.vector", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    return ["java"] + opts + ["-cp", build.classpath(), "graftbench.Main"] + args


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_round(rounds, fn):
    vals = [fn(r) for r in rounds]
    return median([v for v in vals if v is not None])


def calls_of(rd, *names):
    return [c for c in rd["calls"] if c["name"] in names]


def rate(rd, items_from, time_from, clock="s"):
    """Items of the first calls per second of the second calls, on the
    wall clock ("s") or in CPU seconds of the JVM ("cpu_s")."""
    items = sum(c["items"] for c in calls_of(rd, *items_from))
    secs = sum(c[clock] for c in calls_of(rd, *time_from))
    return items / secs if secs > 0 else None


IV = "ops.IvfIndex."
SP = "engine.SyntheticPipeline."
IVF_CALLS = [IV + f for f in ("build", "append", "applyChanges", "search", "driftReport",
                              "compact", "rebuild")]
# (items from, seconds from) of each workload's two stages; the README's
# metric table says what each one is
STAGES = {
    "synth_tables": {
        "ingest_per_cpu_s": ([SP + "profileTable"], [SP + "profileTable"]),
        "process_per_cpu_s": ([SP + "generate"],
                              [SP + "generate", SP + "validate", SP + "writeCsv"]),
    },
    "llm_data": {
        "ingest_per_cpu_s": (["ops.Curation.curate"],
                             ["ops.Curation.curate", "ops.Dedup.lshJaccardDedup",
                              "ops.Dedup.dedupCorpus"]),
        "process_per_cpu_s": ([IV + "build", IV + "append", IV + "applyChanges"], IVF_CALLS),
    },
}


def end_to_end(workload, res, chk):
    """The end-to-end metrics, each a median over the run's rounds. The
    round and its stages are measured in CPU seconds of the JVM (all its
    threads), which the host's CPU steal does not inflate; set-up stays
    on the wall clock."""
    rounds = res["rounds"]
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "run_cpu_s": (median([r["cpu_s"] for r in rounds]), "s"),
        "quality": (chk["quality"], "ratio"),
    }
    for k, f in STAGES[workload].items():
        m[k] = (per_round(rounds, lambda r, f=f: rate(r, *f, clock="cpu_s")), "1/s")
    return m


def named_figures(workload, res, chk):
    """The workload's figures under the names a reader knows them by,
    printed on the line before the result: readable, not compared."""
    rounds = res["rounds"]

    def per_s(items, secs):
        return per_round(rounds, lambda r: rate(r, items, secs))

    def ms(name):
        return median([c["s"] * 1000 for rd in rounds for c in calls_of(rd, name)])

    if workload == "synth_tables":
        out = {"profile_rows_per_s": per_s([SP + "profileTable"], [SP + "profileTable"]),
               "synth_rows_per_s": per_s([SP + "generate"],
                                         [SP + "generate", SP + "validate", SP + "writeCsv"])}
    else:
        writes = [IV + "build", IV + "append", IV + "applyChanges"]
        out = {"curate_docs_per_s": per_s(["ops.Curation.curate"], ["ops.Curation.curate"]),
               "neardup_docs_per_s": per_s(["ops.Dedup.lshJaccardDedup"],
                                           ["ops.Dedup.lshJaccardDedup", "ops.Dedup.dedupCorpus"]),
               "batch_p50_ms": ms("streaming.feed"),
               "stream_processed_rows_per_s": median(res["extra"].get("processed_rows_per_s", [])),
               "ingest_vectors_per_s": per_s(writes, writes),
               "search_p50_ms": ms(IV + "search"),
               "maintenance_s": per_round(rounds, lambda r: sum(
                   c["s"] for c in calls_of(r, IV + "driftReport", IV + "compact", IV + "rebuild"))),
               "index_bytes_per_vector": res["extra"].get("index_bytes", 0)
               / max(1, chk.get("live_vectors", 1))}
    # the round on the wall clock, and the CPU seconds the host took from
    # this machine meanwhile (summed over its CPUs)
    out["run_s"] = median([r["wall_s"] for r in rounds])
    out["run_steal_s"] = median([r["steal_s"] for r in rounds])
    out["peak_rss_mb"] = res["peak_rss_mb"]
    out["call_s"] = [[c["name"], round(c["s"], 3)] for rd in rounds[:1] for c in rd["calls"]]
    out.update(chk.get("figures", {}))
    return out


def run_jvm(workload, seed, seconds, trace, cores=4):
    """One JVM run; returns (result, check) or exits non-zero."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    for d in (inp, out, os.path.join(work, "tmp")):
        os.makedirs(d)
    t0 = time.time()
    truth = gen.generate(workload, seed, inp)
    t1 = time.time()
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"in={inp}", f"out={out}", f"work={work}", f"cores={cores}"]
    args += [f"{k}={v}" for k, v in gen.SIZES[workload].items()]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(jvm_cmd(work, args), stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(result_path) as f:
        res = json.load(f)
    t2 = time.time()
    chk = checks.check(workload, res, truth, inp, out)
    print(f"[run] inputs {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, checks {time.time() - t2:.1f}s",
          file=sys.stderr)
    for msg in chk["errors"][:20]:
        print(f"[check] {msg}", file=sys.stderr)
    return res, chk


def untraced_history(workload, add=None):
    """run_s of the untraced runs made in this checkout, the baseline of
    trace.overhead_s."""
    path = os.path.join(WORK, "history", f"{workload}.json")
    hist = json.load(open(path)) if os.path.exists(path) else []
    if add is not None:
        hist.append(add)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(hist, f)
    return hist


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] for reference runs; the benchmark itself runs at 4")
    a = ap.parse_args()

    build.ensure()
    if a.trace and not untraced_history(a.workload):
        # no untraced run yet in this checkout: make one as the baseline
        res, _ = run_jvm(a.workload, a.seed, a.seconds, 0)
        untraced_history(a.workload, median([r["wall_s"] for r in res["rounds"]]))
    res, chk = run_jvm(a.workload, a.seed, a.seconds, a.trace, a.cores)
    run_s = median([r["wall_s"] for r in res["rounds"]])
    print(json.dumps({"workload": a.workload, "seed": a.seed, "rounds": len(res["rounds"]),
                      "named": named_figures(a.workload, res, chk)}))
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.overhead_s"] = run_s - median(untraced_history(a.workload))
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        if a.cores == 4:
            untraced_history(a.workload, run_s)
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(a.workload, res, chk).items()}
    print(json.dumps({"correct": chk["correct"], "attempted": chk["attempted"],
                      "failed": chk["failed"], "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("useful_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
