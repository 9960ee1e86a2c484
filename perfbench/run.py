#!/usr/bin/env python3
"""Maintenance-path benchmark for spark-graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program
(src/main/scala) together with the JVM harness (perfbench/src) against the
Spark jars, into perfbench/.cache; later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed and cached per
seed. The harness runs one workload (see workloads.json), checks its
outputs, and this script prints a detail line and then, as the last line,
one JSON object: correct, attempted, failed, and the metrics -- the
end-to-end ones with --trace 0, the per-layer ones with --trace 1.

Spark jars are taken from $SPARK_HOME/jars, else from the directory
build.sbt compiles against (its `unmanagedBase`).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

JVM_TIMEOUT_S = 170
# build.sbt's javaOptions: Spark on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
E2E = ["latency_p50_ms", "latency_tail_ms", "throughput_per_s", "setup_s",
       "heap_after_gc_peak_mb"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt
    compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              f.read())
        except OSError:
            m = None
        if not m:
            fail("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars}")
    return jars


def build(jars):
    """Compile src/main/scala and perfbench/src into a directory keyed by
    the sources' hash."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(CACHE, "build-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    for old in glob.glob(os.path.join(CACHE, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        cwd=ROOT, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    return classes


def inputs(workload, wcfg, seed, seconds):
    """Generated inputs, cached per (workload, parameters, seed, generator
    source)."""
    p = wcfg["params"]
    # the stream's schedule spans warm-up plus the window
    duration = seconds + wcfg["warmup_s"] if workload == "stream_steady" \
        else None
    with open(gen.__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()
    key = json.dumps([workload, p, seed, duration, code], sort_keys=True)
    d = os.path.join(CACHE, "inputs",
                     f"{workload}-{seed}-"
                     + hashlib.sha256(key.encode()).hexdigest()[:12])
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "stream_steady":
        info = gen.stream_inputs(tmp, seed, p, duration)
    elif workload == "compaction_cycle":
        info = gen.compaction_inputs(tmp, seed, p)
    else:
        info = gen.decision_events(tmp, seed, p)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, info


def run_jvm(classes, jars, workload, wcfg, inp, work, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    args = {"workload": workload, "inputs": inp, "work": work,
            "seconds": seconds, "trace": trace, "cores": cores,
            "min_samples": M.min_samples(wcfg["tail_pct"]),
            "commit_threshold": gen.COMMIT_THRESHOLD}
    for k in ("warmup_s", "setup_reps", "warmup_ops", "keys"):
        if k in wcfg:
            v = wcfg[k]
            args[k] = ",".join(v) if isinstance(v, list) else v
    if "hot_tables" in wcfg["params"]:
        args["hot_tables"] = wcfg["params"]["hot_tables"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's default driver heap. Every run is a fresh JVM, so with a
    # larger heap the young generation never fills within a run and every
    # allocation touches fresh pages: in interleaved stream runs on a busy
    # 4-vCPU host, a 3 GB heap read p50 632-981 ms, a 1 GB heap 627-728 ms.
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    res = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"harness exited {code}:\n{tail}")
    with open(res) as f:
        return json.load(f)


def oracle_checks(inp, res):
    """Each key's parquet output against its registered DuckDB oracle SQL
    over the same events file: same column names, same multiset of rows."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{os.path.join(inp, 'events.parquet')}')")
    out = []
    for key, sql in sorted(res["oracles"].items()):
        if not sql:
            out.append({"name": f"{key} has an oracle", "passed": 0,
                        "failed": 1, "detail": "no oracle SQL registered"})
            continue
        got = "read_parquet('" + os.path.join(res["outputs_dir"], key,
                                             "*.parquet") + "')"
        try:
            ecols = [d[0] for d in con.execute(
                f"SELECT * FROM ({sql}) LIMIT 0").description]
            gcols = [d[0] for d in con.execute(
                f"SELECT * FROM {got} LIMIT 0").description]
            if sorted(ecols) != sorted(gcols):
                raise AssertionError(f"columns {sorted(gcols)} != "
                                     f"{sorted(ecols)}")
            cols = ", ".join(f'"{c}"' for c in sorted(ecols))
            exp = f"(SELECT {cols} FROM ({sql}))"
            act = f"(SELECT {cols} FROM {got})"
            n_exp, n_act, diff = con.execute(
                f"SELECT (SELECT count(*) FROM {exp}), "
                f"(SELECT count(*) FROM {act}), "
                f"(SELECT count(*) FROM ({exp} EXCEPT ALL {act})) + "
                f"(SELECT count(*) FROM ({act} EXCEPT ALL {exp}))"
            ).fetchone()
            ok = n_exp == n_act and diff == 0
            detail = "" if ok else \
                f"{n_act} rows vs oracle {n_exp}, {diff} differ"
        except Exception as e:  # a broken key fails its check, loudly
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append({"name": f"{key} equals its oracle",
                    "passed": int(ok), "failed": int(not ok),
                    "detail": detail})
    return out


def stream_samples(inp, res, warmup_s, seconds):
    episodes = []
    with open(os.path.join(inp, "episodes.tsv")) as f:
        for line in f:
            t, cross_us, _ = line.split("\t")
            episodes.append((int(t), int(cross_us) / 1000))
    samples, wrong, early = M.pair_dispatches(
        episodes, [(d[0], d[1]) for d in res["dispatches"]], res["t0_ms"])
    lo, hi = warmup_s * 1000, (warmup_s + seconds) * 1000
    measured = [(due, lat) for due, lat in samples if lo <= due < hi]
    res["samples_ms"] = [lat for _, lat in measured]
    trace_at = res["trace_at_ms"] - res["t0_ms"]
    res["sample_traced"] = [due >= trace_at for due, _ in measured]
    res["attempted"] = len(episodes)
    # episodes not dispatched exactly once or too early, plus the harness's
    # own failed checks (the final decisions)
    res["failed"] = wrong + early + sum(c["failed"] for c in res["checks"])
    res["checks"] += [
        {"name": "every episode dispatched exactly once",
         "passed": int(wrong == 0), "failed": int(wrong > 0),
         "detail": f"{wrong} episodes off" if wrong else ""},
        {"name": "no dispatch before its crossing append is due",
         "passed": int(early == 0), "failed": int(early > 0),
         "detail": f"{early} early" if early else ""}]
    res.setdefault("layers", {}).update({
        "stream.dispatch_ratio": len(res["dispatches"]) / max(1, len(episodes)),
        "stream.generator_late_p99_ms": M.nearest_rank(res["late_ms"], 99),
        "engine.dispatch_ms": statistics.median(
            [d[2] for d in res["dispatches"]]) if res["dispatches"] else 0.0,
    })


def per_layer(workload, wcfg, res, untraced, traced):
    """Per-layer metrics of a traced run, per operation (a key run, a
    cycle, or a micro-batch): Spark runtime totals of the jobs inside the
    operations, self time per layer, job time per graft module named by
    call site, the stream's progress phases, and the tracing overhead."""
    out = dict(res.get("layers", {}))
    spans = [dict(zip(("id", "parent", "layer", "name", "start", "end",
                       "module", "metrics"), s)) for s in res.get("spans", [])]
    spans = M.attach_spans(spans)
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["parent"] == 0
           and s["layer"] not in ("spark", "planning")]
    n_ops = max(1, len(ops))

    def root(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s
    inside = [s for s in spans if s["parent"] and root(s) in ops]
    jobs = [s for s in inside if s["layer"] == "spark"]
    tot = {}
    for s in inside:
        for k, v in s["metrics"].items():
            tot[k] = tot.get(k, 0) + v
    per = {k: v / n_ops for k, v in tot.items()}
    job_union = sum(M.union_within(op, [j for j in jobs if root(j) is op])
                    for op in ops)
    out.update({
        "spark.planning_ms": per.get("planning_ms", 0.0),
        "spark.codegen_compile_ms": res.get("codegen_ns", 0) / 1e6 / n_ops,
        "spark.jobs": per.get("jobs", 0.0),
        "spark.stages": per.get("stages", 0.0),
        "spark.tasks": per.get("tasks", 0.0),
        "spark.driver_gap_ms":
            (sum(o["end"] - o["start"] for o in ops) - job_union) / n_ops,
        "spark.task_run_ms": per.get("task_run_ms", 0.0),
        "spark.task_cpu_ms": per.get("task_cpu_ns", 0.0) / 1e6,
        "spark.gc_ms": per.get("gc_ms", 0.0),
        "spark.shuffle_write_bytes": per.get("shuffle_write_bytes", 0.0),
        "spark.shuffle_read_bytes": per.get("shuffle_read_bytes", 0.0),
        "spark.spill_bytes": per.get("spill_bytes", 0.0),
        "spark.result_bytes": per.get("result_bytes", 0.0),
    })
    selfs = M.self_times(ops + inside)
    for layer in ("spark", "graft.stream", "graft.ops", "graft.engine"):
        out[f"self_ms.{layer}"] = selfs.get(layer, 0.0) / n_ops
    for mod in ("graft.stream", "graft.ops", "graft.engine"):
        out[f"jobs_ms.{mod}"] = sum(
            M.union_within(op, [j for j in jobs if root(j) is op and
                                (j["module"] or op["layer"]) == mod])
            for op in ops) / n_ops
    if workload == "compaction_cycle":
        out["ops.decide_ms"] = out["jobs_ms.graft.ops"]
        out["engine.compact_ms"] = out["jobs_ms.graft.engine"]
        out["engine.poll_wait_ms"] = out["self_ms.graft.engine"]
    batches = res.get("stream_batches", [])
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "offsets_ms",
              "state_update_ms", "state_commit_ms"):
        out[f"stream.{k}_p50"] = statistics.median(
            [b[k] for b in batches]) if batches else 0.0
    out["stream.rows_per_batch_p50"] = statistics.median(
        [b["rows"] for b in batches]) if batches else 0.0
    if batches:
        # micro-batches plan in the stream's own session, which a listener
        # registered after the query started does not see; take the
        # planning phase from the batch progress instead
        out["spark.planning_ms"] = statistics.mean(
            b["planning_ms"] for b in batches)
    names = res.get("sample_names") or []
    for key in wcfg.get("keys", []):
        xs = [x for x, n in zip(res["samples_ms"], names) if n == key]
        out[f"query.{key}_p50_ms"] = statistics.median(xs) if xs else 0.0
    out["trace.overhead_ms"] = (statistics.median(traced)
                                - statistics.median(untraced)) \
        if traced and untraced else 0.0
    out["trace.spans"] = float(len(spans))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        wl = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in wl:
        fail(f"unknown workload {a.workload}")
    wcfg = wl[a.workload]

    jars = spark_jars()
    classes = build(jars)
    inp, info = inputs(a.workload, wcfg, a.seed, a.seconds)
    work = os.path.join(CACHE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(classes, jars, a.workload, wcfg, inp, work,
                      a.seconds, a.trace)
        if a.workload == "stream_steady":
            stream_samples(inp, res, wcfg["warmup_s"], a.seconds)
        if a.workload == "decision_queries":
            checks = oracle_checks(inp, res)
            res["checks"] += checks
            res["failed"] += sum(c["failed"] for c in checks)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples_ms"]
    flags = res.get("sample_traced") or [False] * len(samples)
    untraced = [x for x, t in zip(samples, flags) if not t]
    traced = [x for x, t in zip(samples, flags) if t]
    # a traced run's end-to-end figures cover all its operations, traced or
    # not; they are printed only in its detail line
    pct = wcfg["tail_pct"]
    try:
        tail, beyond = M.tail(samples, pct)
    except M.TooFewSamples as e:
        fail(f"no tail reported: {e}")
    first, second = M.halves_p50(samples)
    correct = all(c["failed"] == 0 for c in res["checks"]) and \
        res["failed"] == 0
    e2e = {
        "latency_p50_ms": statistics.median(samples),
        "latency_tail_ms": tail,
        "throughput_per_s": res["work"] / res["busy_s"],
        "setup_s": res["setup_s"],
        "heap_after_gc_peak_mb": max(res.get("heap_warm_mb", 0.0),
                                     res["heap_after_gc_mb"]),
    }
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "detail": a.workload, "seed": a.seed, "inputs": info,
        "tail_pct": pct, "tail_samples_beyond": beyond,
        "samples": len(samples),
        "latency_p50_first_half_ms": first,
        "latency_p50_second_half_ms": second,
        "checks": res["checks"], **{k: e2e[k] for k in E2E}}))
    if a.trace:
        layer = per_layer(a.workload, wcfg, res, untraced, traced)
        layer["run.samples"] = float(len(samples))
        layer["run.tail_samples_beyond"] = float(beyond)
        names = [m["name"] for m in spec["per_layer"]]
        out = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]}
               for n in names}
    else:
        out = {n: {"value": float(e2e[n]), "unit": units[n]} for n in E2E}
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
