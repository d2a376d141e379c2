#!/usr/bin/env python3
"""Run one benchmark workload against the graft Spark library.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 45 --trace 0

Builds the library from `src/main/scala` and the harness from
`perfbench/src` with the Scala compiler that ships in Spark's jars
(skipped when the sources are unchanged), then starts ONE fresh JVM
that times the workload (see `graft.perfbench.Harness`) and turns its
samples into metrics. Each metric is printed by name with its unit; the
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (listeners attached). Every answer is checked against the
fingerprints in `perfbench/reference.json`; a query that throws or
mismatches counts in `failed`.

`--record` regenerates that file for one workload from a run whose passes
must all agree. The run also writes every query's output as parquet next
to its `oracle_sql.json`, for
`tools/verify_local.py --scale perfbench/data/sf0.1 <dir>`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SF = BENCH / "data" / "sf0.1"
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
              ("query_geomean_s", "s"), ("peak_rss_mb", "MB")]
# per-layer metrics: the sum over queries of each query's median over
# the traced warm passes
LAYER_SUMS = [
    ("operators.call_s", "s", "call_s"), ("kernels.retire_s", "s", "retire_s"),
    ("harness.gc_s", "s", "gc_s"),
    ("spark.analysis_s", "s", None), ("spark.optimization_s", "s", None),
    ("spark.planning_s", "s", None), ("spark.jobs", "count", None),
    ("spark.stages", "count", None), ("spark.tasks", "count", None),
    ("spark.stage_busy_s", "s", None), ("spark.task_run_s", "s", None),
    ("spark.driver_gap_s", "s", None), ("spark.failed_tasks", "count", None),
    ("spark.input_mb", "MB", None), ("spark.input_records", "count", None),
    ("spark.shuffle_read_mb", "MB", None),
    ("spark.shuffle_write_mb", "MB", None), ("spark.spill_mb", "MB", None),
    ("streaming.batches", "count", None), ("streaming.batch_s", "s", None),
    ("streaming.add_batch_s", "s", None), ("streaming.state_commit_s", "s", None),
    ("streaming.state_rows", "count", None),
]
# what a query left behind after its retire (the live heap after the
# GC that follows): the most seen after any query
LEFTOVERS = [("kernels.persistent_rdds_after", "persistent_rdds", "count"),
             ("streaming.leftover_views", "temp_views", "count"),
             ("streaming.active_after", "active_streams", "count"),
             ("kernels.temp_store_dirs_after", "temp_store_dirs", "count"),
             ("harness.live_heap_mb", "heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set")
    jars = Path(os.environ["SPARK_HOME"]) / "jars"
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        fail(f"no Scala compiler in {jars}")
    return jars


def build(jars):
    """Compile the library and the harness unless their sources are unchanged."""
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((BENCH / "src").rglob("*.scala"))
    if not main_src:
        fail(f"no library sources under {ROOT / 'src/main/scala'}")
    target = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = (target if target.is_absolute() else ROOT / target) / "perfbench"
    h = hashlib.sha256()
    for f in main_src + bench_src + sorted(jars.glob("*.jar")):
        h.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f).encode())
        if f.suffix == ".scala":
            h.update(f.read_bytes())
    stamp = out / "stamp"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    compiler = ":".join(str(jars / f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect"))
    for name, srcs, cp in (("main", main_src, f"{jars}/*"),
                           ("bench", bench_src, f"{out / 'main'}:{jars}/*")):
        (out / name).mkdir(parents=True)
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", str(out / name)] + [str(s) for s in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"compiling {name} failed")
    stamp.write_text(h.hexdigest())
    return out


def run_jvm(jars, classes, args, run_dir, log, budget_s):
    """Start one fresh JVM with its own local and temp dirs, and wait for it."""
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes / 'bench'}:{classes / 'main'}:{jars}/*",
              "graft.perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=run_dir, start_new_session=True)

        def stop():
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        # the JVM runs in its own session: take it down with this process
        signal.signal(signal.SIGTERM, lambda *_: (stop(), fail("terminated")))
        try:
            code = p.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            stop()
            fail(f"JVM exceeded {budget_s:.0f}s; log in {log}")
        except KeyboardInterrupt:
            stop()
            raise
    if code != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"JVM exited with {code}; log in {log}")


def cpu_jiffies():
    """(steal, total) jiffies of this host's CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def by_query(samples, key, agg=statistics.median):
    per = {}
    for s in samples:
        per.setdefault(s["query"], []).append(key(s))
    return {q: agg(v) for q, v in per.items()}


def latency(s):
    return s["call_s"] + s["action_s"] + s["retire_s"]


def tail(values):
    """The highest percentile with at least ten samples beyond it."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="regenerate this workload's reference fingerprints")
    a = ap.parse_args()
    t_start = time.monotonic()

    workloads = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    queries = workloads[a.workload]["queries"]
    reference = json.loads((BENCH / "reference.json").read_text())
    jars = spark_jars()
    classes = build(jars)

    runs = ROOT / ".bench_run"
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-record" if a.record else "")
    (runs / "results").mkdir(parents=True, exist_ok=True)
    out, log = runs / "results" / f"{tag}.json", runs / "results" / f"{tag}.log"
    run_dir = runs / f"{tag}-p{os.getpid()}"
    args = {"sf": SF, "workload": a.workload, "queries": ",".join(queries), "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "out": out}
    if a.record:
        dump = runs / "record" / a.workload
        shutil.rmtree(dump, ignore_errors=True)
        dump.mkdir(parents=True)
        args["dump"] = dump
    steal0, total0 = cpu_jiffies()
    try:
        run_jvm(jars, classes, args, run_dir, log, DEADLINE_S - (time.monotonic() - t_start))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_jiffies()
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # run slowed by the host, not by the program, shows here
    steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
    res = json.loads(out.read_text())
    samples = res["samples"]

    if a.record:
        ref = reference[a.workload] = {}
        for s in samples:
            if s["error"]:
                fail(f"{s['id']} failed: {s['error']}")
            if ref.setdefault(s["query"], s["fingerprint"]) != s["fingerprint"]:
                fail(f"{s['query']}: the fingerprint differs between passes")
        (BENCH / "reference.json").write_text(json.dumps(reference, indent=1, sort_keys=True) + "\n")
        print(f"recorded {len(samples)} fingerprints; outputs for the oracle compare in {dump}")
        return

    # answer check
    want = reference.get(a.workload, {})
    bad = []
    for s in samples:
        if s["error"]:
            bad.append((s["id"], s["error"]))
        elif want.get(s["query"]) != s["fingerprint"]:
            bad.append((s["id"], f"fingerprint {s['fingerprint']} != reference {want.get(s['query'])}"))
    for sid, why in bad:
        print(f"FAILED {sid}: {why}")
    ok = [s for s in samples if not s["error"]]
    cold = [s for s in ok if s["pass"] == 0]
    # the warm-up pass after the cold pass is checked, but gives no warm samples
    warm = [s for s in ok if s["pass"] > res["warmup_passes"]]
    untraced = [s for s in warm if not s["traced"]]
    traced = [s for s in warm if s["traced"]]
    if not cold or not untraced:
        fail("no successful cold or warm samples")

    metrics = {}
    if a.trace == 0:
        per_query = by_query(warm, latency)
        vals = {"setup_s": statistics.median(res["setup_s"]),
                "cold_s": sum(latency(s) for s in cold),
                "warm_s": sum(per_query.values()),
                "query_geomean_s": statistics.geometric_mean(per_query.values()),
                "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
        # printed, not metrics: over a mix of a few queries the median
        # jumps between queries, and a run has too few samples for a tail
        lat = [latency(s) for s in warm]
        t, pct, n = tail(lat)
        print(f"warm samples: p50 {statistics.median(lat):.6g} s, "
              f"p{pct:.1f} {t:.6g} s (the highest percentile with 10 beyond it), n={n}")
    else:
        if not traced:
            fail("no traced warm pass")
        ledger = res["ledger"]

        def layer(k):
            return lambda s: ledger.get(s["id"], {}).get(k, 0.0)
        per_query, units = {}, {}
        for name, unit, key in LAYER_SUMS:
            per_query[name] = by_query(traced, (lambda s, k=key: s[k]) if key else layer(name))
            units[name] = unit
        empty = by_query(traced, layer("spark.empty_tasks"))
        per_query["spark.empty_task_frac"] = {
            q: empty[q] / n if n else 0.0 for q, n in per_query["spark.tasks"].items()}
        # store builds over the whole run (they land in the cold pass)
        per_query["kernels.store_builds"] = by_query(samples, lambda s: len(s["stores"]), sum)
        per_query["kernels.store_build_s"] = by_query(samples, lambda s: sum(s["stores"].values()), sum)
        for name, key, unit in LEFTOVERS:
            per_query[name] = by_query(samples, lambda s, k=key: s["left"][k], max)
            units[name] = unit
        units.update({"spark.empty_task_frac": "ratio", "kernels.store_builds": "count",
                      "kernels.store_build_s": "s"})
        leftovers = {name for name, _, _ in LEFTOVERS}
        for name, per in per_query.items():
            agg = max if name in leftovers else sum
            metrics[name] = {"value": agg(per.values()), "unit": units[name]}
        metrics["spark.empty_task_frac"]["value"] = (
            sum(empty.values()) / metrics["spark.tasks"]["value"] if metrics["spark.tasks"]["value"] else 0.0)
        metrics["harness.setup_first_s"] = {"value": res["setup_s"][0], "unit": "s"}
        metrics["harness.steal_frac"] = {"value": steal_frac, "unit": "ratio"}
        t_on = sum(by_query(traced, latency).values())
        t_off = sum(by_query(untraced, latency).values())
        metrics["trace_overhead_frac"] = {"value": t_on / t_off - 1.0, "unit": "ratio"}
        table = {q: {k: per[q] for k, per in per_query.items()} for q in res["queries"]}
        ledger_out = out.with_name(f"{tag}-ledger.json")
        ledger_out.write_text(json.dumps({"per_query": table, "workload": metrics}, indent=1))
        print(f"per-query ledger (traced warm-pass medians; stores and leftovers over the run), also in {ledger_out}:")
        for q, row in table.items():
            print("  " + q + " " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
        unclaimed = ledger.get("", {})
        if unclaimed:
            print("not attributed to a query: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(unclaimed.items())))

    print(f"workload {a.workload} seed {a.seed} at {res['master']}: {len(res['passes'])} passes "
          f"(cold, {res['warmup_passes']} warm-up, {len(res['passes']) - 1 - res['warmup_passes']} measured) in "
          f"{res['measured_s']:.1f}s, {len(samples)} queries run, {len(bad)} failed "
          f"(failed_frac {len(bad) / len(samples):.4f}), CPU steal {steal_frac:.3f}; "
          f"raw samples in {out}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not bad, "attempted": len(samples), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
