#!/usr/bin/env python3
"""Benchmark of the directory hash and of a query mix.

    python3 perfbench/run.py --workload bigfiles --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:
  1. checks the hash oracle against its golden chunk digests;
  2. builds the program and the harness (perfbench/build.py);
  3. writes the workload's input from --seed under .bench_work: the
     bigfiles tree, with the oracle's expected hash of it, or the query
     mix's parquet tables (untimed);
  4. starts the session in a throw-away JVM, for a second set-up sample;
  5. in the measuring JVM: the first operation (one hash, or one pass of
     the query mix), untimed warm-up operations, then timed ones for
     --seconds; with --trace 1 half of that, then the per-layer probes;
  6. checks every result: each hash against the oracle, and one more pass
     of the query mix against its DuckDB oracle (tools/compare_oracle.py);
  7. prints, last, one JSON line: {"correct", "attempted", "failed",
     "metrics"}. --trace 0 reports the end-to-end metrics of
     BENCHMARK.json, --trace 1 its per-layer ones.
Earlier lines carry the machine stamp, a summary and the full detail.
METRICS.md says what each metric measures.
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
import oracle  # noqa: E402
import tables  # noqa: E402
import trees  # noqa: E402

SETUP_PROBES = 1
JVM_TIMEOUT_S = 150
# What spark-submit would pass to a JDK 17 driver.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The query mix by module, run in name order, and the scale of its tables.
QUERYMIX = {
    "Relational": ["q01_pricing_summary"],
    "Dedup": ["q148_prefix_join"],
    "TextAnalysis": ["q228_kmv_source_overlap", "q230_kmv_source_distinct"],
    "Sessionize": ["q25_user_sessions"],
}
QUERY_SF = 0.01
# Per-layer metrics of each workload. A workload reports the other's as 0:
# it does not run that layer.
DIRHASH_LAYERS = [
    "fs.Listing.s", "fs.Listing.entries", "core.Chunker.plan_s", "core.Chunker.chunks",
    "core.Chunker.digest_s", "core.Chunker.read_bytes", "core.Chunker.read_amplification",
    "core.Chunker.task_skew", "core.DirHash.wall_s", "core.DirHash.head_s",
    "core.DirHash.jobs_active_s", "core.DirHash.job_gaps_s", "core.DirHash.tail_s",
    "core.DirHash.jobs", "core.DirHash.stages", "core.DirHash.tasks", "core.DirHash.exchanges",
    "core.DirHash.collected_rows", "core.DirHash.result_bytes", "hash.Algos.roofline_frac"]
QUERY_LAYERS = (
    [f"query.{n}.s" for qs in QUERYMIX.values() for n in qs]
    + ["query.build_s", "query.exec_s", "query.driver_only_s", "query.jobs"]
    + [f"ops.{m}.s" for m in QUERYMIX] + ["ops.Memo.builds", "ops.Memo.build_s"])
SPARK_TOTALS = ["spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes"]


def machine():
    mem = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                mem[k] = int(v.split()[0]) * 1024
    except OSError:
        pass
    steal = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if cpu[0] == "cpu" else None
    except (OSError, IndexError, ValueError):
        pass
    return {"loadavg": list(os.getloadavg()), "mem_available_bytes": mem.get("MemAvailable"),
            "steal_s": steal}


class Jvm:
    def __init__(self, root, work, nproc):
        self.classpath = build.ensure(root)
        self.work = work
        self.env = dict(os.environ, LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS=str(nproc))
        self.runs = 0

    def harness(self, *args):
        """Runs the harness to completion; returns its last stdout line,
        parsed."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.runs += 1
        log = os.path.join(self.work, f"jvm-{self.runs}.log")
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", *ADD_OPENS,
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(self.work, 'spark-local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", self.classpath, "perfbench.Harness", *args,
               "--spawned", repr(time.time())]
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=self.work, env=self.env, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0:
            tail = open(log, errors="replace").read()[-3000:]
            raise RuntimeError(f"the harness exited {r.returncode}:\n{tail}")
        lines = r.stdout.strip().splitlines()
        if not lines:
            raise RuntimeError("the harness printed nothing")
        return json.loads(lines[-1])


def layer_checks(layers, facts):
    """Consistency of the traced call with the clock that timed it and with
    the oracle's own facts."""
    problems = []
    if abs(layers["core.DirHash.wall_s"] - layers["trace.hash_wall_s"]) > 0.01:
        problems.append(f"listener-clock wall {layers['core.DirHash.wall_s']} != "
                        f"timed wall {layers['trace.hash_wall_s']}")
    for part in ("head", "job_gaps", "tail"):
        if layers[f"core.DirHash.{part}_s"] < 0:
            problems.append(f"core.DirHash.{part}_s is negative: jobs outside the call")
    if layers["core.Chunker.chunks"] != facts["chunks"]:
        problems.append(f"chunks {layers['core.Chunker.chunks']} != oracle {facts['chunks']}")
    if layers["fs.Listing.entries"] != facts["files"] + facts["dirs"]:
        problems.append(f"entries {layers['fs.Listing.entries']} != oracle "
                        f"{facts['files'] + facts['dirs']}")
    return problems


def dirhash(a, jvm, work):
    """One bigfiles run; returns its part of the report."""
    tree = os.path.join(work, "tree")
    phases = [time.monotonic()]
    try:
        facts = trees.generate(tree, a.seed)
        os.sync()  # no write-back of the new tree during the timed calls
        phases.append(time.monotonic())
        setups = [jvm.harness("--mode", "setup")["setup_s"] for _ in range(SETUP_PROBES)]
        phases.append(time.monotonic())
        res = jvm.harness("--mode", "hash", "--dir", tree, "--algo", facts["algo"],
                          "--block", facts["block"], "--expected", facts["expected"],
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--tree-bytes", str(facts["tree_bytes"]))
        phases.append(time.monotonic())
    finally:
        shutil.rmtree(tree, ignore_errors=True)

    hashes = res["hashes"]
    walls = res["walls_s"]
    setups.append(res["setup_s"])
    e2e = {
        "op_s": statistics.median(walls),
        "first_op_s": res["first_op_s"],
        "setup_s": statistics.median(setups),
        "hash_MBps": facts["tree_bytes"] / 1e6 / statistics.median(walls),
    }
    e2e["live_heap_MB"] = statistics.median(res["live_heap_bytes"]) / 1e6
    problems = [h for h in hashes if h != facts["expected"]][:3]
    layers = {}
    if a.trace:
        layers = dict(res["layers"], live_heap_MB=e2e["live_heap_MB"],
                      first_op_s=e2e["first_op_s"], **{k: 0.0 for k in QUERY_LAYERS})
        problems += layer_checks(layers, facts)
    return {
        "res": res, "e2e": e2e, "layers": layers, "problems": problems,
        "attempted": len(hashes) + 1,
        "failed": sum(h != facts["expected"] for h in hashes) + (res["verify"] != "true"),
        "stamp": {"phase_s": dict(zip(("inputs", "setup_probes", "measuring_jvm"),
                                      (y - x for x, y in zip(phases, phases[1:])))),
                  "tree": {k: facts[k] for k in ("tree_bytes", "files", "dirs", "chunks",
                                                 "empty_files", "algo", "block")}},
        "detail": {"walls_s": walls, "warmup_walls_s": res["warmup_walls_s"], "setups_s": setups,
                   "live_heap_bytes": res["live_heap_bytes"], "heap_samples": res["heap_samples"]},
    }


def _sum(p, key):
    """A per-query figure summed over the queries of a pass that succeeded."""
    return sum(q[key] for q in p["queries"].values() if "error" not in q)


def query_layers(res):
    """Per-layer figures of a traced query-mix run: medians over passes."""
    med = statistics.median
    timed, traced = res["passes"], res["traced_passes"]
    layers = {}
    for mod, names in QUERYMIX.items():
        for n in names:
            layers[f"query.{n}.s"] = med(p["queries"][n].get("s", 0.0) for p in timed)
        layers[f"ops.{mod}.s"] = med(sum(p["queries"][n].get("s", 0.0) for n in names)
                                     for p in timed)
    for k in ("build_s", "exec_s"):
        layers[f"query.{k}"] = med(_sum(p, k) for p in timed)
    layers["ops.Memo.builds"] = med(len(p["memo_builds"]) for p in timed)
    layers["ops.Memo.build_s"] = med(sum(m["s"] for m in p["memo_builds"]) for p in timed)
    for k in ["driver_only_s", "jobs"] + SPARK_TOTALS:
        layers[k if k.startswith("spark.") else f"query.{k}"] = med(_sum(p, k) for p in traced)
    layers["trace.wall_ratio"] = med(_sum(p, "s") for p in traced) / med(res["walls_s"])
    layers["hash.Algos.sha256_MBps"] = res["hash.Algos.sha256_MBps"]
    return dict(layers, **{k: 0.0 for k in DIRHASH_LAYERS})


def querymix(a, jvm, work, root):
    """One query-mix run; returns its part of the report."""
    sf = os.path.join(work, "tables")
    names = sorted(q for qs in QUERYMIX.values() for q in qs)
    verify_out = os.path.join(work, "verify")
    phases = [time.monotonic()]
    rows = tables.generate(sf, a.seed, QUERY_SF)
    phases.append(time.monotonic())
    setups = [jvm.harness("--mode", "setup")["setup_s"] for _ in range(SETUP_PROBES)]
    phases.append(time.monotonic())
    res = jvm.harness("--mode", "queries", "--tables", sf, "--queries", ",".join(names),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--verify-out", verify_out)
    phases.append(time.monotonic())
    # the oracle, untimed: the harness's first pass wrote each result and
    # its oracle SQL, and tools/compare_oracle.py compares them in DuckDB
    cmp = subprocess.run([sys.executable, os.path.join(root, "tools", "compare_oracle.py"),
                          sf, verify_out], stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    phases.append(time.monotonic())
    passed = {line.split()[1] for line in cmp.stdout.splitlines() if line.startswith("PASS ")}

    every = [res["first_pass"], res["probed_pass"]] + res["passes"] + res.get("traced_passes", [])
    errors = [f"{n}: {q['error']}" for p in every for n, q in p["queries"].items()
              if "error" in q]
    mismatched = [n for n in names if n not in passed]
    walls = res["walls_s"]
    setups.append(res["setup_s"])
    e2e = {
        "op_s": statistics.median(walls),
        "first_op_s": res["first_op_s"],
        "setup_s": statistics.median(setups),
        "live_heap_MB": res["live_heap_bytes"][0] / 1e6,
        "query_total_s": statistics.median(walls),
    }
    return {
        "res": res, "e2e": e2e,
        "layers": dict(query_layers(res), live_heap_MB=e2e["live_heap_MB"],
                       first_op_s=e2e["first_op_s"]) if a.trace else {},
        "problems": errors[:3] + [f"{n}: differs from its oracle" for n in mismatched],
        "attempted": len(every) * len(names) + len(names),
        "failed": len(errors) + len(mismatched),
        "stamp": {"phase_s": dict(zip(("inputs", "setup_probes", "measuring_jvm", "oracle"),
                                      (y - x for x, y in zip(phases, phases[1:])))),
                  "tables": dict(rows, sf=QUERY_SF), "queries": len(names)},
        "detail": {"walls_s": walls, "warmup_walls_s": res["warmup_walls_s"], "setups_s": setups,
                   "live_heap_bytes": res["live_heap_bytes"], "heap_samples": res["heap_samples"],
                   "query_s": {n: [p["queries"][n].get("s") for p in res["passes"]]
                               for n in names},
                   "memo_builds": res["passes"][0]["memo_builds"],
                   "oracle": cmp.stdout.strip().splitlines()[-1:]},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("bigfiles", "querymix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
    wanted = declared["per_layer" if a.trace else "end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    oracle.self_check()

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm = Jvm(root, work, nproc)
    before = machine()
    if a.workload == "querymix":
        run = querymix(a, jvm, work, root)
    else:
        run = dirhash(a, jvm, work)
    after = machine()
    shutil.rmtree(work, ignore_errors=True)

    res, e2e, layers = run["res"], run["e2e"], run["layers"]
    values = layers if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"no figure for {missing}")
    print("stamp " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": nproc,
        "java": res["java_version"], "spark": res["spark_version"],
        "parallelism": res["parallelism"],
        "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
        "mem_available_bytes": before["mem_available_bytes"],
        "cpu_steal_s": (after["steal_s"] - before["steal_s"]
                        if before["steal_s"] is not None else None),
        "trace_wall_ratio": layers.get("trace.wall_ratio"),
        **run["stamp"]}))
    print("summary " + json.dumps({
        "hash_MBps": [e2e.get("hash_MBps"), "MB/s"],
        "first_hash_s": [e2e["first_op_s"] if a.workload == "bigfiles" else None, "s"],
        "query_total_s": [e2e.get("query_total_s"), "s"],
        "setup_s": [e2e["setup_s"], "s"],
        "live_heap_MB": [e2e.get("live_heap_MB"), "MB"],
        "error_rate": [run["failed"] / run["attempted"], "1"],
    }))
    print("detail " + json.dumps(dict(run["detail"], problems=run["problems"],
                                      **({"layers": layers} if a.trace else {}))))
    print(json.dumps({
        "correct": run["failed"] == 0 and not run["problems"],
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError,
            json.JSONDecodeError) as e:
        sys.exit(f"benchmark failed: {e}")
