#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (outputs under .bench_build/); later
runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed, starts one JVM (one client thread,
closed loop, local[nproc]), checks every operation's output and prints
one JSON result line last on stdout. `--trace 1` runs the traced pass
and reports the per-layer metrics instead of the end-to-end ones.
See perfbench/SPEC.json for the operation lists and metric meanings.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
SCALE = 0.01          # star schema: read only by the traced job-count probes
CORPUS_SCALE = 0.1    # documents and embeddings: the curate inputs
RUN_LIMIT_S = 170     # a run must end within this, builds excepted
WORKLOADS = ("curate", "ingest")

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.path.sep + "target" in d:
                continue
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the engine plus harness unless the sources are unchanged."""
    for need in ("src/main/scala/graft", "tools/check_one.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
            and open(STAMP).read() == digest:
        return
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                              "-Dsbt.repository.config=" +
                              os.path.expanduser("~/.sbt/repositories") +
                              " -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=850)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(args, data, work, out, plan_path, deadline):
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dderby.system.home={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--cores", str(os.cpu_count() or 4),
            "--ingest-plan", plan_path]
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        logf.close()
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        fail("JVM timed out")
    logf.close()
    if not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        fail(f"JVM exited {proc.returncode} without a result")
    res = json.load(open(out))
    if "fatal" in res:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        fail("JVM failed: " + res["fatal"])
    return res


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(res):
    ms = [e["ms"] for e in res["execs"]]
    per_op = {}
    for e in res["execs"]:
        per_op.setdefault(e["op"], []).append(e["ms"])
    slowest = max(per_op, key=lambda op: statistics.median(per_op[op]))
    metrics = {
        "setup_s": metric(res["setup"]["setup_s"], "s"),
        "pass_s": metric(statistics.median(res["pass_ms"]) / 1000.0, "s"),
        "op_p50_ms": metric(statistics.median(ms), "ms"),
        # the slowest operation's median: a run holds too few samples
        # for an upper percentile with samples beyond it (SPEC.json)
        "op_tail_ms": metric(statistics.median(per_op[slowest]), "ms"),
        "heap_retained_mb": metric(res["heap_retained_mb"], "MB"),
    }
    info = {"op_tail": {"op": slowest, "samples": len(per_op[slowest]),
                        "op_max_ms": max(ms)},
            "op_ms": {op: [round(x, 1) for x in xs] for op, xs in per_op.items()},
            "pass_s_all": [p / 1000.0 for p in res["pass_ms"]]}
    return metrics, info


KERNELS = ("graft_shingle_hashes", "graft_token_hashes", "graft_simhash",
           "graft_minhash_group", "graft_dot")
# layers summed over the workload's own traced pass
LAYER_KEYS = ("queries.build_ms", "queries.build_jobs", "plans.plan_ms",
              "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
              "exec.ms", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.sched_wait_ms", "exec.task_failures", "exec.core_busy",
              "tasks.run_ms", "tasks.cpu_ms", "tasks.gc_ms",
              "tasks.shuffle_read_bytes", "tasks.shuffle_write_bytes",
              "Tables.scan_bytes", "operators.cached_bytes",
              "operators.checkpointed_rdds")
UNITS = {"ms": "ms", "_jobs": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "_failures": "count", "_bytes": "bytes",
         "_rdds": "count", "core_busy": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(res, workload, replay):
    lay = res["layers"]
    setup = res["setup"]
    m = {"setup.session_ms": metric(setup["session_ms"], "ms"),
         "setup.warm_ms": metric(setup["warm_ms"], "ms")}
    for k in LAYER_KEYS:
        m[k] = metric(float(lay[k]), unit_of(k))
    kern = res.get("kernels") or {}
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = metric(float(kern.get(k, 0.0)), "ns/row")
    # write-side layers: the ingest operations' own traced pass on
    # ingest, a traced pass of the same operations on a read workload
    io_ops, io_lay = res["io_per_op"], res["io_layers"]
    for k in ("sources.jdbc_ms", "pipelines.etl_ms"):
        m[k] = metric(float(io_lay[k]), "ms")
    commits = [o for o in io_ops if o["commit"]]
    stream_ids = {str(o["id"]) for o in io_ops if o["op"] == "stream_append"}
    prog = {}
    for k, v in res["streaming"].items():
        if k in stream_ids:
            for name, x in v.items():
                prog[name] = prog.get(name, 0.0) + x
    m["sources.commit_ms"] = metric(sum(o["ms"] for o in commits), "ms")
    # what the pass adds; VACUUM only deletes and is left out
    adds = [o for o in io_ops if o["op"] != "vacuum"]
    m["sources.bytes_written"] = metric(float(sum(o["bytes_written"] for o in adds)), "bytes")
    m["sources.files_written"] = metric(float(sum(o["files_written"] for o in adds)), "count")
    rf = res["read_files"]
    m["sources.read_files"] = metric(sum(rf) / len(rf) if rf else 0.0, "count")
    m["streaming.batches"] = metric(prog.get("batches", 0.0), "count")
    m["streaming.batch_ms"] = metric(prog.get("triggerExecution", 0.0), "ms")
    m["streaming.planning_ms"] = metric(prog.get("queryPlanning", 0.0), "ms")
    m["streaming.wal_ms"] = metric(prog.get("walCommit", 0.0) + prog.get("commitOffsets", 0.0), "ms")
    # ingest-only figures: commit latency (stream batches count one by
    # one), committed rows per second of write time, write amplification
    lat = [o["ms"] for o in commits if o["op"] != "stream_append"]
    n_b = int(prog.get("batches", 0))
    lat += [prog.get("triggerExecution", 0.0) / n_b] * n_b if n_b else []
    write_ms = sum(o["ms"] for o in io_ops if o["op"] in oracle.WRITE_OPS)
    ub = res["user_parquet_bytes"]
    m["ingest.commit_p50_ms"] = metric(statistics.median(lat) if lat else 0.0, "ms")
    m["ingest.write_rows_per_s"] = metric(
        replay["rows_written"] / (write_ms / 1000.0) if write_ms else 0.0, "1/s")
    m["ingest.write_amp"] = metric(
        m["sources.bytes_written"]["value"] / ub if ub else 0.0, "ratio")
    untraced = statistics.mean(res["untraced_pass_ms"])
    m["trace.overhead_s"] = metric((res["traced_pass_ms"] - untraced) / 1000.0, "s")
    cov = lay["coverage_by_op"]
    m["trace.min_coverage"] = metric(min(cov.values()) if cov else 0.0, "ratio")
    return m


def findings(res):
    """Instrument cross-checks; reported, never tuned away."""
    out = []
    for op, j in sorted(res.get("job_probes", {}).items()):
        out.append({"check": f"{op} jobs", "want": j["want"], "got": j["jobs"],
                    "ok": j["jobs"] == j["want"]})
    walls = {o["op"]: o["ms"] for o in res["per_op"]}
    for op, c in sorted(res["layers"]["coverage_by_op"].items()):
        if c < 0.9 and walls.get(op, 0) * (1 - c) > 50:
            out.append({"check": f"{op} spans cover wall time", "ok": False,
                        "got": round(c, 3)})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.time()
        plan = gen.generate(data, args.seed, SCALE, CORPUS_SCALE)
        t1 = time.time()
        res = run_jvm(args, data, work, os.path.join(work, "result.json"),
                      os.path.join(data, "ingest_plan.json"), deadline)
        t2 = time.time()
        replay = oracle.ingest_replay(plan) \
            if args.trace or args.workload == "ingest" else None
        wrong = oracle.check(args.workload, data, res, replay)
        log(f"inputs {t1 - t0:.1f} s, engine {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
        if args.trace:
            ops = res["per_op"]
            attempted = len(ops)
            failed_names = sorted({o["op"] for o in ops if not o["ok"]} | set(wrong))
            failed = sum(1 for o in ops if not o["ok"] or o["op"] in wrong)
            metrics = per_layer(res, args.workload, replay)
            info = {"findings": findings(res),
                    "traced_pass_s": res["traced_pass_ms"] / 1000.0,
                    "untraced_pass_s": [p / 1000.0 for p in res["untraced_pass_ms"]],
                    "vacuum_removed_bytes": sum(o["bytes_removed"] for o in res["io_per_op"]
                                                if o["op"] == "vacuum"),
                    "rows_by_op": {o["op"]: o["rows"] for o in res["per_op"]}}
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, f"trace-{args.workload}.json"))
        else:
            ex = res["execs"]
            attempted = len(ex)
            failed_names = sorted({e["op"] for e in ex if not e["ok"]} | set(wrong))
            failed = sum(1 for e in ex if not e["ok"] or e["op"] in wrong)
            metrics, info = end_to_end(res)
            info["noise_probe_s"] = res["noise_probe_s"]
        errors = {e["op"]: e["error"] for e in res.get("execs", []) if not e["ok"]}
        errors.update(wrong)
        errors.update(res.get("verify_problems", {}))
        report = dict(info, workload=args.workload, seed=args.seed,
                      error_rate=failed / attempted if attempted else 1.0,
                      failed_ops=failed_names, errors=errors,
                      warm_failures=res["warm_failures"])
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": failed == 0 and not res["warm_failures"],
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
