#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, end-to-end and per-layer
metrics, correctness checked in the same run.

    python3 perfbench/run.py --workload stream_state --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the harness
with sbt (``perfbench/build.sbt``) and caches the class path under
``.bench_build/``, keyed by a hash of the sources, so a source change
rebuilds. Each run then generates its inputs from ``--seed``
(``perfbench/gen.py``), starts the JVM harness (``perfbench.Main``) on
``local[nproc]``, and turns its raw samples into metrics. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` also measures the workload
traced (spans and Spark listeners attached) and untraced once more, and
prints the per-layer metrics and the tracing overhead. Human-readable lines
go first; the last stdout line is one JSON object. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
GEN_LATE_LIMIT_MS = 250
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key(root):
    """Hash of every file the build reads: the root build and graft's
    sources, and the harness's. Build outputs (``target`` dirs) are left
    out."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(root, "src"), os.path.join(root, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, names in os.walk(top):
            # sbt's own output: target/ anywhere, and project/project/
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and d == top))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile graft and the harness; return the class path. The class path
    is cached under the hash of the sources, so a change to any source
    re-runs sbt's incremental compile before the JVM starts."""
    key = source_key(root)
    cache = os.path.join(root, BUILD_DIR, "perfbench-classpath.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            cached_key, _, cp = f.read().partition("\n")
        cp = cp.strip()
        if cached_key == key and all(os.path.exists(e) for e in cp.split(os.pathsep)
                                     if not e.endswith(".jar")):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g", "-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(key + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_jvm(root, cp, args, work, log_path):
    java_opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    java_opts += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                  "-Dspark.ui.enabled=false", f"-Dderby.system.home={work}"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = ["java"] + java_opts + ["-cp", cp, "perfbench.Main"] + \
        [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM harness failed ({rc})")


# ---- metrics ---------------------------------------------------------------

def stream_metrics(m):
    """End-to-end metrics of a stream workload's measure section, plus the
    validity facts and sample counts behind them."""
    closed, opn, prog = m["closed"], m["open"], m["progress"]
    lat = stats.chunk_latencies(opn["due_ms"], opn["offset"], prog)
    done = [x for x in lat if x is not None]
    backlog = stats.backlog_chunks(opn["due_ms"], opn["offset"], prog)
    look = m["lookups"]
    return {
        # the median closed-loop chunk: robust to one slow micro-batch
        "rows_per_s": closed["chunk_rows"] / statistics.median(closed["chunk_s"]),
        "latency": stats.summarize(done), "lookup": stats.summarize(look["ms"]),
        "attempted": len(closed["chunk_s"]) + len(lat) + len(look["ms"]),
        "failed": (len(lat) - len(done)) + look["failed"],
        "gen_late_ms": stats.generator_late_ms(opn["due_ms"], opn["sent_ms"]),
        "lookup_late_ms": look["late_ms"],
        "backlog_max_rows": max(backlog or [0]) * opn["rows_per_tick"],
        "backlog_grew": stats.backlog_grew(backlog),
    }


def batch_metrics(m):
    """A pass over the mix is the unit of work: its time-to-result (build,
    plan and execute of every query) is the latency sample."""
    passes = m["passes"]
    suite_s = sum(statistics.median(p[q] for p in passes) for q in passes[0]) / 1000.0
    look = m["lookups"]
    return {
        "suite_s": suite_s, "passes": len(passes),
        "rows_per_s": m["result_rows"] / suite_s,
        "latency": stats.summarize([sum(p.values()) for p in passes]),
        "lookup": stats.summarize(look["ms"]),
        "attempted": sum(len(p) for p in passes) + len(look["ms"]), "failed": look["failed"],
        "gen_late_ms": 0.0, "lookup_late_ms": look["late_ms"],
        "backlog_max_rows": 0, "backlog_grew": False,
    }


def measure_metrics(workload, m):
    return batch_metrics(m) if workload == "batch_mix" else stream_metrics(m)


def end_to_end(mm, setup, mem):
    return {
        "setup_s": (setup, "s"),
        "rows_per_s": (mm["rows_per_s"], "rows/s"),
        "latency_p50_ms": (mm["latency"]["p50"], "ms"),
        "lookup_p50_ms": (mm["lookup"]["p50"], "ms"),
        "mem_peak_mb": (mem, "MB"),
    }


# the graft.entry.*Queries objects that define the batch_mix queries
FAMILIES = ["core", "agg", "join", "llm", "graph", "link", "audit"]
STREAM_PHASES = {"wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
                 "query_planning_ms": "queryPlanning", "latest_offset_ms": "latestOffset",
                 "get_batch_ms": "getBatch", "trigger_ms": "triggerExecution",
                 "add_batch_ms": "addBatch"}
OVERHEAD = ["wal_commit_ms", "commit_offsets_ms", "query_planning_ms",
            "latest_offset_ms", "get_batch_ms"]


def per_layer(workload, res, rows_in, untraced_e2e, traced_e2e, again_e2e):
    """Per-layer metrics of the traced run. Streams are per micro-batch,
    batch_mix per pass over the mix; the unit column of BENCHMARK.json
    names the quantity. The tracing overhead compares the traced measure
    with the mean of the untraced ones before and after it; it is reported
    as 0 when it does not exceed their spread (``trace.noise_*``)."""
    tr, tm = res["trace"], res["traced_measure"]
    out = {}
    progress = tr["progress"]
    data = [p for p in progress if p["input_rows"] > 0]
    nb = max(len(progress), 1)

    def mean_phase(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress) / nb
    for name, key in STREAM_PHASES.items():
        out[f"streaming.{name}"] = mean_phase(key)
    trig = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress)
    over = sum(p["duration_ms"].get(STREAM_PHASES[k], 0)
               for p in progress for k in OVERHEAD)
    out["streaming.overhead_share"] = over / trig if trig else 0.0
    out["streaming.batches"] = len(progress)
    out["streaming.data_batch_ratio"] = len(data) / nb if progress else 0.0
    ops = [s for p in progress for s in p["state"]]
    out["state.commit_ms"] = sum(s["commit_ms"] for s in ops) / nb
    out["state.update_ms"] = sum(s["update_ms"] for s in ops) / nb
    out["state.removal_ms"] = sum(s["removal_ms"] for s in ops) / nb
    out["state.partitions"] = max([s["partitions"] for s in ops] or [0])
    out["state.rows_updated"] = sum(s["rows_updated"] for s in ops) / nb
    last = {}
    for p in progress:
        last[p["query"]] = p
    out["state.rows_total"] = sum(s["rows_total"] for p in last.values() for s in p["state"])
    out["state.memory_bytes"] = sum(s["memory_bytes"] for p in last.values()
                                    for s in p["state"])
    dedup = [p for p in progress if p["query"].endswith("_tumbling")]
    out["state.dropped_late_rows"] = sum(s["dropped_late"] for p in dedup
                                         for s in p["state"])

    start = res["trace_start_ns"]
    spans = tr["spans"]
    selfs = stats.self_times(spans)
    measured = [s for s in spans if s["start_ns"] >= start]
    units = len(tm["passes"]) if workload == "batch_mix" else nb

    def span_ms(layer, pred=lambda s: True):
        return sum(selfs[s["id"]] for s in measured
                   if s["layer"] == layer and pred(s)) / 1e6 / units
    out["exec.ms"] = span_ms("exec")
    for f in FAMILIES:
        out[f"exec.{f}_ms"] = span_ms("exec", lambda s, f=f: s["name"].startswith(f + ":"))
    out["entry.build_ms"] = span_ms("entry")
    sources = [s for s in spans if s["layer"] == "sources" and s["start_ns"] < start]
    out["sources.scan_ms"] = sum(selfs[s["id"]] for s in sources) / 1e6
    out["sources.rows_in"] = rows_in

    ex = tr["exec"]
    tot = {k: sum(v[k] for v in ex.values()) for k in
           ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
            "result_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
            "shuffle_records", "fetch_wait_ms", "spill_memory_bytes",
            "spill_disk_bytes"]}
    for k in ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms"]:
        out[f"exec.{k}"] = tot[k] / units
    out["exec.result_bytes"] = tot["result_bytes"] / units
    out["shuffle.write_bytes"] = tot["shuffle_write_bytes"] / units
    out["shuffle.read_bytes"] = tot["shuffle_read_bytes"] / units
    out["shuffle.records"] = tot["shuffle_records"] / units
    out["shuffle.fetch_wait_ms"] = tot["fetch_wait_ms"] / units
    out["spill.memory_bytes"] = tot["spill_memory_bytes"] / units
    out["spill.disk_bytes"] = tot["spill_disk_bytes"] / units
    out["exec.peak_mem_bytes"] = max([v["peak_mem_bytes"] for v in ex.values()] or [0])
    out["entry.eager_jobs"] = sum(v["jobs"] for k, v in ex.items()
                                  if k.startswith("entry:")) / units
    cores = res["config"]["nproc"]
    out["exec.slot_busy_ratio"] = tot["task_run_ms"] / (tm["wall_s"] * 1000 * cores)
    skews = []
    for v in ex.values():
        for st in v["stage_task_ms"]:
            if len(st) >= 2 and statistics.median(st) > 0:
                skews.append(max(st) / statistics.median(st))
    out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    out["exec.speedup_vs_1core"] = (untraced_e2e["rows_per_s"][0] / res["baseline_1core"]
                                    if res.get("baseline_1core") else 0.0)
    ph = tr["phases"]
    for k in ["analysis_ms", "optimization_ms", "planning_ms"]:
        out[f"plan.{k}"] = sum(p[k] for p in ph) / units
    mm = measure_metrics(workload, tm)
    out["gen.late_ms"] = mm["gen_late_ms"]
    out["gen.lookup_late_ms"] = mm["lookup_late_ms"]
    out["gen.backlog_rows"] = mm["backlog_max_rows"]
    for k in ["rows_per_s", "latency_p50_ms", "lookup_p50_ms"]:
        a1, a2, b = untraced_e2e[k][0], again_e2e[k][0], traced_e2e[k][0]
        base = (a1 + a2) / 2
        over = (b - base) / base if base else 0.0
        noise = abs(a1 - a2) / base if base else 0.0
        out[f"trace.overhead_{k}"] = over if abs(over) > noise else 0.0
        out[f"trace.noise_{k}"] = noise
    return out


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        wl = json.load(f)
    if a.workload not in wl:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; one of {sorted(wl)}")
    w = wl[a.workload]
    cp = build(root)

    run_dir = os.path.join(root, BUILD_DIR, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.write_tables(a.seed, data)
        replay = (gen.write_replay(a.seed, data, w["replay_rows"], w["chunk_rows"])
                  if "replay_rows" in w else None)
        log(f"inputs for seed {a.seed} generated in {time.time() - t0:.1f}s: {replay}")
        out_json = os.path.join(run_dir, "result.json")
        nproc = os.cpu_count() or 1
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "data": data, "work": work, "out": out_json,
                "cores": nproc, "chunk_rows": w.get("chunk_rows", 0),
                "open_rows_per_s": w.get("open_rows_per_s", 0),
                "lookups_per_s": w["lookups_per_s"],
                "mix": ",".join(w.get("mix", []))}
        run_jvm(root, cp, args, work, os.path.join(run_dir, "jvm.log"))
        with open(out_json) as f:
            res = json.load(f)
        report(a, res, replay, data, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, res, replay, data, work):
    cfg = res["config"]
    mm = measure_metrics(a.workload, res["measure"])
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if a.workload == "batch_mix":
        import oracle  # needs tools/check.py of the checkout
        checks += [(f"{q} = DuckDB oracle", ok, d) for q, ok, d in oracle.compare(
            data, os.path.join(work, "results"), res["measure"]["oracle_sql"],
            cfg["mix"])]
    invalid = []
    if mm["gen_late_ms"] > GEN_LATE_LIMIT_MS:
        invalid.append(f"generator ran late ({mm['gen_late_ms']:.0f} ms)")
    if mm["lookup_late_ms"] > GEN_LATE_LIMIT_MS:
        invalid.append(f"lookup reader ran late ({mm['lookup_late_ms']:.0f} ms)")
    if mm["backlog_grew"]:
        invalid.append("open-loop backlog grew")
    bad_checks = [c for c in checks if not c[1]]
    attempted = mm["attempted"] + len(checks)
    failed = mm["failed"] + len(bad_checks)
    e2e = end_to_end(mm, statistics.median(res["setup_s"]), res["mem_peak_mb"])

    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("config: " + json.dumps({k: cfg[k] for k in [
        "nproc", "master", "shuffle_partitions", "aqe", "jvm_heap_mb", "spark_version",
        "session_policy"]}))
    if replay:
        print(f"replay: {replay}")
    print(f"setup_s samples: {[round(x, 3) for x in res['setup_s']]}")
    for k, (v, unit) in e2e.items():
        print(f"  {k:16s} {v:14.4f} {unit}")
    # the tails are reported, not gated: across runs they spread more than
    # any bound BENCHMARK.json may set (see README.md)
    for name, q in [("latency", mm["latency"]), ("lookup", mm["lookup"])]:
        print(f"  {name} samples n={q['n']} p50={q['p50']} p75={q['p75']} p90={q['p90']} "
              f"tail=p{q['tail_p']}={q['tail']}")
    print(f"  error_rate {failed}/{attempted} = {failed / attempted:.4f}")
    for name, ok, detail in checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name} {detail}")
    print(f"  validity: generator late {mm['gen_late_ms']:.0f} ms, lookup reader late "
          f"{mm['lookup_late_ms']:.0f} ms, backlog max {mm['backlog_max_rows']} rows")
    for why in invalid:
        print(f"  INVALID RUN: {why}")
    if bad_checks:
        log(f"{len(bad_checks)} correctness check(s) failed")

    if a.trace:
        t_e2e = end_to_end(measure_metrics(a.workload, res["traced_measure"]), 0.0, 0.0)
        again_e2e = end_to_end(measure_metrics(a.workload, res["measure_again"]), 0.0, 0.0)
        rows_in = sum(gen.SF_ROWS.values()) + (replay["rows"] if replay else 0)
        metrics = per_layer(a.workload, res, rows_in, e2e, t_e2e, again_e2e)
        for k in e2e:
            if k not in ("setup_s", "mem_peak_mb"):
                print(f"  {k:16s} untraced {e2e[k][0]:12.4f}  traced {t_e2e[k][0]:12.4f}"
                      f"  untraced again {again_e2e[k][0]:12.4f} {e2e[k][1]}")
        units = {}
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        for k in sorted(metrics):
            print(f"  {k:32s} {metrics[k]:16.4f} {units.get(k, '')}")
        out = {k: {"value": metrics[k], "unit": units.get(k, "")} for k in units}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not bad_checks
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed + len(invalid), "metrics": out}))


if __name__ == "__main__":
    main()
