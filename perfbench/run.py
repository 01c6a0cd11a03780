#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload run, checked and reported.

    python3 perfbench/run.py --workload olap|interactive --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
harness with sbt (perfbench/harness); later runs reuse the build while no
source changed. Inputs are generated from the seed into a scratch
directory under perfbench/.work, which is removed when the run ends.
With --trace 0 the last stdout line is a JSON object with the end-to-end
metrics; with --trace 1 the run is traced and the JSON holds the per-layer
metrics, while the lines before it report each layer's self time and the
tracing overhead against an earlier untraced run of the same seed. See
README.md.
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

try:
    import check
    import gen
    import workloads
except ImportError as e:  # a directory without the repository around it
    sys.exit(f"perfbench: {e}: run from the root of a graft checkout")

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

HEAP = "3g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
THREADS = os.cpu_count() or 4

# Generated input sizes: TPC-H-style tables at scale factor sf
# (lineitem = 6M x sf rows), plus documents and 64-d embeddings.
SCALE = {"olap": dict(sf=0.01, n_docs=300, n_vecs=500),
         "interactive": dict(sf=0.01, n_docs=5000, n_vecs=2000)}

E2E = [("setup_s", "s"), ("requests_per_s", "1/s"), ("latency_p50_ms", "ms"),
       ("latency_p90_ms", "ms"), ("read_latency_p50_ms", "ms"),
       ("peak_heap_mb", "MB"), ("retained_heap_mb", "MB")]
PER_LAYER = [
    ("session.start_s", "s"), ("tables.register_s", "s"), ("warmup_s", "s"),
    ("front.ms_p50", "ms"), ("front.ms_p90", "ms"), ("plan.ms_p50", "ms"),
    ("exec.ms_p50", "ms"), ("exec.ms_p90", "ms"),
    ("engine.jobs_per_req", "count"), ("engine.tasks_per_req", "count"),
    ("engine.job_overhead_ms", "ms"), ("engine.core_busy_ratio", "fraction"),
    ("engine.cpu_ratio", "fraction"), ("engine.gc_ratio", "fraction"),
    ("engine.shuffle_write_mb_per_req", "MB"), ("engine.shuffle_read_mb_per_req", "MB"),
    ("engine.spill_mb_per_req", "MB"), ("engine.rows_read_per_row_returned", "ratio"),
    ("kernel.money_ns_per_row", "ns"), ("kernel.minhash_ns_per_row", "ns"),
    ("kernel.shingle_ns_per_row", "ns"), ("kernel.tokenize_ns_per_row", "ns"),
    ("kernel.l2_ns_per_row", "ns"), ("kernel.cosine_ns_per_row", "ns")]


class BenchError(Exception):
    pass


def run_proc(cmd, deadline, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run. Returns the exit code,
    or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def bench_digest(digest):
    """The program's source digest plus the benchmark's own Python: the
    state a run record belongs to."""
    h = hashlib.sha256(digest.encode())
    for n in sorted(os.listdir(HERE)):
        if n.endswith(".py"):
            with open(os.path.join(HERE, n), "rb") as fh:
                h.update(n.encode() + fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile graft and the harness once per source state; return the
    java command prefix, whether it built, and the source digest."""
    target = os.path.join(HARNESS, "target")
    stamp = os.path.join(target, "launch.stamp")
    digest = source_digest()
    built = False
    if not (os.path.isfile(stamp) and open(stamp).read() == digest):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        os.makedirs(WORK, exist_ok=True)
        logf = os.path.join(WORK, "build.log")
        with open(logf, "w") as fh:
            rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"], deadline,
                          cwd=HARNESS, env=env, stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            tail = open(logf).read()[-3000:]
            raise BenchError(f"build failed ({rc}):\n{tail}")
        with open(stamp, "w") as fh:
            fh.write(digest)
        built = True
    cp = ":".join(open(os.path.join(target, "classpath.txt")).read().split())
    opts = [o for o in open(os.path.join(target, "jvmopts.txt")).read().split("\n") if o]
    return ["java", f"-Xmx{HEAP}"] + opts + ["-cp", cp, "perfbench.Main"], built, digest


# -------------------------------------------------------------------- run

def run_jvm(java, plan, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    # only deployment paths are passed; engine knobs from the caller's
    # environment are dropped so every run uses graft's own settings
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cmd = java[:1] + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + java[1:] + [plan_file]
    errf = os.path.join(work, "jvm.log")
    with open(errf, "w") as fh:
        rc = run_proc(cmd, deadline, stdout=fh, stderr=subprocess.STDOUT, env=env)
    if rc is None:
        raise BenchError("the benchmark JVM did not finish in time")
    if rc != 0:
        lines = [l for l in open(errf).read().splitlines() if "INFO" not in l]
        raise BenchError(f"benchmark JVM exited with {rc}:\n" + "\n".join(lines[:40]))


def pct(values, p):
    """Nearest-rank percentile; failed requests count as +inf."""
    v = sorted(values)
    return v[max(0, -(-len(v) * p // 100) - 1)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def execute(workload, seed, seconds, trace, java, deadline, scale=None, keep=False):
    """Generate the inputs, run the harness JVM once, check every result.
    With `keep` the scratch directory survives (its path is `res["work"]`)."""
    scale = scale or SCALE[workload]
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    clock = [time.time()]
    try:
        frames = gen.write(data_dir, seed, **scale)
        if workload == "olap":
            plan, ctx = workloads.olap(seed), None
        else:
            plan, ctx = workloads.interactive(seed, frames)
        plan.update(workload=workload, seconds=seconds, trace=bool(trace), threads=THREADS,
                    data_dir=data_dir, work_dir=work, out_dir=os.path.join(work, "out"))
        clock.append(time.time())
        run_jvm(java, plan, work, deadline)
        clock.append(time.time())
        res = collect(plan, frames, ctx)
        clock.append(time.time())
        if res["summary"]["exhausted"]:
            raise BenchError("request stream exhausted before the window closed")
        if trace:
            os.makedirs(OUT, exist_ok=True)
            shutil.copy(os.path.join(plan["out_dir"], "trace.jsonl"),
                        os.path.join(OUT, f"{workload}-seed{seed}.trace.jsonl"))
        res.update(work=work, frames=frames, ctx=ctx,
                   timing=[b - a for a, b in zip(clock, clock[1:])])
        return res
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def collect(plan, frames, ctx):
    """Read the harness's outputs and check them (outside the window)."""
    out_dir, data_dir = plan["out_dir"], plan["data_dir"]
    summary = json.load(open(os.path.join(out_dir, "summary.json")))
    done = [json.loads(l) for l in open(os.path.join(out_dir, "requests.jsonl"))]
    res = dict(summary=summary, done=done, plan=plan, spans=None, jobs=None)
    if plan["workload"] == "olap":
        res["bad"] = check.check_olap(out_dir, data_dir, done)
        res["probe"] = [dict(sql=q, err=check.check_probe_query(out_dir, data_dir, q))
                        for q in plan["probe_queries"]]
    else:
        final = [json.loads(l) for l in open(os.path.join(out_dir, "final.jsonl"))]
        checker = check.Interactive(data_dir, frames, ctx, plan["warmup"], plan["requests"])
        res["bad"], res["final_err"] = checker.check(done, final)
        res["recall"] = sum(checker.recalls) / len(checker.recalls) if checker.recalls else None
        res["changed_rows"] = checker.changed
        res["loaded_rows"] = len(ctx["initial"])
        res["probe"] = []
        for i, (q, line) in enumerate(zip(workloads.PK_PROBE,
                                          open(os.path.join(out_dir, "probe.jsonl")))):
            p = json.loads(line)
            want = workloads.PK_EXPECT.get(i)
            if p["err"] is None and want is not None and p["rows"] != want:
                p["err"] = f"rows {p['rows']}, expected {want}"
            res["probe"].append(dict(sql=q, err=p["err"]))
    if plan["trace"]:
        recs = [json.loads(l) for l in open(os.path.join(out_dir, "trace.jsonl"))]
        res["spans"] = [r for r in recs if r["type"] == "span"]
        res["jobs"] = [r for r in recs if r["type"] == "job"]
    return res


def passed(res):
    """Every timed result correct, the final table right, IVF recall kept."""
    return (all(b is None for b in res["bad"]) and not res.get("final_err") and
            (res.get("recall") is None or res["recall"] >= check.RECALL_BOUND))


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    s, done, bad, reqs = res["summary"], res["done"], res["bad"], res["plan"]["requests"]
    inf = float("inf")
    lat = [(d["end_ns"] - d["start_ns"]) / 1e6 if b is None else inf
           for d, b in zip(done, bad)]
    cls = [reqs[d["i"]]["cls"] for d in done]
    reads = [x for x, c in zip(lat, cls) if c == "read"]
    writes = [x for x, c in zip(lat, cls) if c == "write"]
    ok = sum(1 for b in bad if b is None)
    m = {"setup_s": s["setup_s"],
         "requests_per_s": ok / s["window_s"],
         "latency_p50_ms": pct(lat, 50),
         "latency_p90_ms": pct(lat, 90),
         "read_latency_p50_ms": pct(reads, 50),
         "peak_heap_mb": s["peak_heap_mb"],
         "retained_heap_mb": s["retained_heap_mb"]}
    info = {"write_latency_p50_ms": pct(writes, 50) if writes else None,
            "error_ratio": (len(done) - ok) / len(done),
            "requests": len(done), "reads": len(reads), "writes": len(writes),
            "beyond_p90": sum(1 for x in lat if x > m["latency_p90_ms"])}
    return m, info


def self_times(spans):
    """Span duration minus the part of it its children cover, per name."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered, end = 0, sp["start_ns"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], sp["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out.setdefault(sp["name"], []).append((sp["end_ns"] - sp["start_ns"] - covered) / 1e6)
    return {k: median(v) for k, v in out.items()}


def per_layer(res):
    s, spans, jobs, done = res["summary"], res["spans"], res["jobs"], res["done"]
    reqs = res["plan"]["requests"]
    setup = {sp["name"]: (sp["end_ns"] - sp["start_ns"]) / 1e9
             for sp in spans if sp["rid"] == "setup"}
    timed = {f"r{d['i']}" for d in done}
    by = {}
    for sp in spans:
        if sp["rid"] in timed:
            by.setdefault(sp["name"], []).append((sp["end_ns"] - sp["start_ns"]) / 1e6)
    front = by.get("queries.build", []) + by.get("sql.front", [])
    tj = [j for j in jobs if j["group"] in timed]
    n = len(done)
    run_ms = sum(j["run_ms"] for j in tj)
    rows_out = sum(d["nrows"] if "nrows" in d else len(d["rows"] or []) for d in done)
    mb = 1024.0 * 1024.0
    window_ms = s["window_s"] * 1e3
    m = {"session.start_s": setup.get("session.start", 0.0),
         "tables.register_s": setup.get("tables.register", 0.0),
         "warmup_s": setup.get("warmup", 0.0),
         "front.ms_p50": pct(front, 50), "front.ms_p90": pct(front, 90),
         "plan.ms_p50": pct(by["plan"], 50),
         "exec.ms_p50": pct(by["exec"], 50), "exec.ms_p90": pct(by["exec"], 90),
         "engine.jobs_per_req": len(tj) / n,
         "engine.tasks_per_req": sum(j["tasks"] for j in tj) / n,
         "engine.job_overhead_ms": median([j["end_ms"] - j["start_ms"] - j["max_task_ms"]
                                           for j in tj]),
         "engine.core_busy_ratio": run_ms / (window_ms * s["threads"]),
         "engine.cpu_ratio": sum(j["cpu_ns"] for j in tj) / 1e6 / run_ms if run_ms else 0.0,
         "engine.gc_ratio": s["gc_ms"] / window_ms,
         "engine.shuffle_write_mb_per_req": sum(j["shuffle_write"] for j in tj) / mb / n,
         "engine.shuffle_read_mb_per_req": sum(j["shuffle_read"] for j in tj) / mb / n,
         "engine.spill_mb_per_req": sum(j["spill"] for j in tj) / mb / n,
         "engine.rows_read_per_row_returned": sum(j["records_read"] for j in tj) / max(1, rows_out)}
    m.update(s["probes"])
    # where request latency goes: each layer's share of the summed request
    # spans, and the tasks' own run time (operators at work) as a share
    req_ms = sum(by["request"])
    info = {"split.front_share": sum(front) / req_ms,
            "split.plan_share": sum(by["plan"]) / req_ms,
            "split.exec_share": sum(by["exec"]) / req_ms,
            "split.task_run_share": run_ms / req_ms}
    # layers only one workload calls: reported beside the JSON
    info["engine.process_cpu_ratio"] = s["process_cpu_ns"] / 1e6 / (window_ms * s["threads"])
    for k in ("index.ivf_build", "index.fulltext_build", "dml.bulk_load"):
        if k in setup:
            info[k + "_s"] = setup[k]
    if "queries.build" in by:
        info["queries.build_ms_p50"] = pct(by["queries.build"], 50)
        info["queries.build_ms_p90"] = pct(by["queries.build"], 90)
    if "sql.front" in by:
        rid_front = {sp["rid"]: (sp["end_ns"] - sp["start_ns"]) / 1e6
                     for sp in spans if sp["name"] == "sql.front" and sp["rid"] in timed}
        for c in ("read", "write"):
            xs = [rid_front[f"r{d['i']}"] for d in done
                  if reqs[d["i"]]["cls"] == c and f"r{d['i']}" in rid_front]
            if xs:
                info[f"sql.front_ms_{c}_p50"] = pct(xs, 50)
    writes = [d for d in done if reqs[d["i"]]["cls"] == "write"]
    if writes:
        st = s["storage"]
        # bytes per stored row of the managed table right after the bulk load
        row_bytes = st["loaded_bytes"] / res["loaded_rows"]
        info["storage.write_amp"] = (sum(d["bytes"] for d in writes)
                                     / (max(1, res["changed_rows"]) * row_bytes))
        info["storage.files_written_per_write"] = sum(d["files"] for d in writes) / len(writes)
        info["storage.table_files"] = st["table_files"]
    knn = [d for d in done if reqs[d["i"]]["op"] == "knn_ivf"] if writes else []
    if knn:
        info["search.ann_rewrite_ratio"] = sum(1 for d in knn if d["ivf"]) / len(knn)
        info["search.recall_at_10"] = res["recall"]
    return m, info, self_times([sp for sp in spans if sp["rid"] in timed or sp["rid"] == "setup"])


# ------------------------------------------------------------------- main

def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


def report(workload, seed, res):
    m, info = end_to_end(res)
    s = res["summary"]
    failures = [(res["plan"]["requests"][d["i"]]["tag"], b)
                for d, b in zip(res["done"], res["bad"]) if b is not None]
    print(f"# workload={workload} seed={seed} N={s['threads']} heap_max_mb={s['heap_max_mb']:.0f} "
          f"spark={s['spark_version']} java={s['java_version']} window_s={s['window_s']:.3f} "
          f"requests={info['requests']} (reads {info['reads']}, writes {info['writes']}, "
          f"{info['beyond_p90']} beyond p90)")
    print("# run time: inputs %.1f s, JVM %.1f s (after the window %.1f s), checks %.1f s"
          % (res["timing"][0], res["timing"][1], s["after_window_s"], res["timing"][2]))
    # steal: CPU time the host gave other tenants while this run's window
    # was open; runs on a contended host can be told apart by it
    print("# host steal during the window: "
          + ("n/a" if s["host_steal"] < 0 else f"{100.0 * s['host_steal']:.1f}% of CPU time")
          + f"; process CPU per request {s['process_cpu_ns'] / 1e6 / len(res['done']):.1f} ms")
    units = dict(E2E, write_latency_p50_ms="ms", error_ratio="fraction")
    for k in [e[0] for e in E2E] + ["write_latency_p50_ms", "error_ratio"]:
        v = m.get(k, info.get(k))
        print(f"{k} {fmt(v)} {units[k]}")
    for tag, why in failures[:10]:
        print(f"! {tag}: {why}")
    if res.get("final_err"):
        print(f"! final table contents: {res['final_err']}")
    if res.get("recall") is not None:
        print(f"# ivf mean recall@10 {res['recall']:.4f} (bound {check.RECALL_BOUND})")
    for p in res.get("probe") or []:
        print(f"# known-defect probe {'ok' if p['err'] is None else 'FAILED'}: {p['sql']}"
              + ("" if p["err"] is None else " -- " + " ".join(p["err"].split())[:200]))
    return m, info, failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    try:
        if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
                os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
            raise BenchError(f"no graft sources under {ROOT}: run from a checkout")
        java, built, digest = build(t0 + BUILD_LIMIT_S)
        deadline = (time.time() if built else t0) + RUN_LIMIT_S
        res = execute(a.workload, a.seed, a.seconds, a.trace, java, deadline)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    m, info, failures = report(a.workload, a.seed, res)
    record = os.path.join(OUT, f"{a.workload}-seed{a.seed}.json")
    if a.trace:
        pl, pinfo, selfs = per_layer(res)
        print("# per-layer, not in the JSON:")
        for k, v in pinfo.items():
            print(f"{k} {fmt(v)}")
        print("# self time per span (median ms): " +
              ", ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())))
        base = json.load(open(record)) if os.path.isfile(record) else {}
        if base.get("source") == bench_digest(digest):
            print("# tracing overhead against the untraced run of this seed: " + ", ".join(
                f"{k} {100.0 * (m[k] - base[k]) / base[k]:+.1f}%" for k, _ in E2E if base.get(k)))
        else:
            print("# tracing overhead: no untraced run of this seed and source state; "
                  "run --trace 0 with this seed first to compare")
        metrics = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER}
    else:
        os.makedirs(OUT, exist_ok=True)
        with open(record, "w") as fh:
            json.dump(dict(m, source=bench_digest(digest)), fh)
        metrics = {k: {"value": m[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": passed(res), "attempted": len(res["done"]),
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
