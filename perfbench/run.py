#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload olap|llm_dedup|dml_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness
(`perfbench/harness`, an sbt project compiled against the engine's
sources) into `.bench_build/`; later runs reuse it until a source
changes. Each run generates its inputs from the seed, runs the engine
in one JVM (closed loop, one client, Spark `local[N]`), checks every
result against DuckDB after the window, and prints a report. The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`; per-layer metrics with
`--trace 1`, which runs the workload untraced and then traced and also
reports the tracing overhead). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("olap", "llm_dedup", "dml_mix")
OLAP_SF = 0.01
DML_SF = 0.01
CORPUS_DOCS = 120
N_BATCHES, BATCH_DOCS = 24, 40
DML_ROUNDS = 12
HEAP = "2g"
JVM_TIMEOUT_S = 170

# The end-to-end metrics every workload reports. "light" and "heavy"
# are the workload's two op classes (README, "Metrics").
END_TO_END = {  # name -> unit
    "setup_s": "s", "heap_peak_mb": "MB", "ops_per_s": "1/s",
    "light_p50_s": "s", "heavy_p50_s": "s"}
LIGHT = {"olap": "query", "llm_dedup": "batch", "dml_mix": "read"}
HEAVY = {"olap": "pass", "llm_dedup": "pass", "dml_mix": "write"}

MODULES = ["Dedup", "Bounds", "VersionedTable", "CsvImporter", "Tables", "Workloads", "other"]
DEDUP_FNS = ["exactGroups", "minhashDupPairs", "jaccardDupPairs", "bandedHashPairs",
             "dupClusters", "nearDedupBest", "dedupAgainst"]
DML_OPS = ["read", "insert", "update", "delete", "merge", "optimize", "vacuum"]
PER_LAYER = (  # name -> unit
    [(f"setup.{p}_s", "s") for p in ("session", "tables", "warm", "table_create")]
    + [("queries.build_s", "s"), ("queries.collect_s", "s"),
       ("plan.qe_count", "count"), ("plan.analysis_s", "s"),
       ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
       ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
       ("sched.delay_s", "s"), ("driver.idle_s", "s"),
       ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
       ("exec.input_bytes", "bytes"), ("exec.input_rows", "rows"),
       ("exec.busy_share", "ratio"),
       ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
       ("shuffle.fetch_wait_s", "s"), ("spill.mem_bytes", "bytes"),
       ("spill.disk_bytes", "bytes"), ("collect.result_bytes", "bytes")]
    + [(f"module.{m}.{k}", u) for m in MODULES for k, u in (("task_s", "s"), ("jobs", "count"))]
    + [(f"dedup.{f}_s", "s") for f in DEDUP_FNS]
    + [("dedup.candidate_pairs", "count"), ("dedup.dup_pairs", "count"),
       ("dedup.pair_yield", "ratio"), ("dedup.clusters", "count"),
       ("dedup.docs_kept", "count")]
    + [(f"dml.{o}_s", "s") for o in DML_OPS]
    + [("ingest.import_s", "s"), ("ingest.rows", "rows"), ("ingest.rejected", "rows"),
       ("dml.files_written", "count"), ("dml.bytes_written", "bytes"),
       ("dml.write_amp", "ratio"), ("dml.live_files", "count"),
       ("dml.versions_retained", "count"), ("dml.space_amp", "ratio")]
    + [("module.engine.task_s", "s"), ("module.engine.jobs", "count")]
    + [(f"overhead.{m}", u) for m, u in END_TO_END.items() if m != "setup_s"])
# The contract line of a traced run carries the per-layer metrics that
# every workload measures; a layer one workload does not use would read
# 0 on every run of it. The others are printed and recorded.
SHARED_LAYER = [(n, u) for n, u in PER_LAYER if n.split(".")[0] in (
    "plan", "sched", "driver", "exec", "overhead") or n in (
    "setup.session_s", "setup.tables_s", "setup.warm_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "collect.result_bytes", "module.Workloads.task_s",
    "module.Workloads.jobs", "module.engine.task_s", "module.engine.jobs")]

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources_digest():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build the harness if its sources changed; return its classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.stamp")
    digest = _sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the harness (sbt) ...")
    t0 = time.time()
    env = dict(os.environ)
    # resolve only from the local caches (the build must work offline)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE, env=env,
            stderr=out, text=True, timeout=850, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"harness build failed; see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, data):
    if workload == "olap":
        d = os.path.join(data, "star")
        os.makedirs(d)
        for name, t in gen.star_tables(seed, OLAP_SF).items():
            gen.write_parquet(t, os.path.join(d, f"{name}.parquet"))
    elif workload == "llm_dedup":
        d = os.path.join(data, "docs")
        os.makedirs(d)
        docs, _ = gen.corpus(seed, CORPUS_DOCS)
        gen.write_parquet(gen.docs_table(docs), os.path.join(d, "documents.parquet"))
        # the dedup oracles share a map with ANN oracles that embed
        # models trained on this directory's embeddings
        gen.write_parquet(gen.embeddings(seed, 200), os.path.join(d, "embeddings.parquet"))
        b = os.path.join(data, "batches")
        os.makedirs(b)
        for i, batch in enumerate(gen.batches(seed, docs, N_BATCHES, BATCH_DOCS)):
            gen.write_parquet(gen.docs_table(batch), os.path.join(b, f"batch_{i:03d}.parquet"))
    else:
        d = os.path.join(data, "dml")
        os.makedirs(d)
        base = gen.dml_base(gen.star_tables(seed, DML_SF))
        gen.write_parquet(base, os.path.join(d, "dml_base.parquet"))
        gen.dml_oplog(seed, base, d, DML_ROUNDS)


# ------------------------------------------------------------------ box sampling

class BoxSampler(threading.Thread):
    """Samples the 1-minute load average and the number of JVMs other
    than the harness's own, twice a second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples, self.own, self._halt = [], None, threading.Event()

    def run(self):
        while not self._halt.wait(0.5):
            try:
                load = float(open("/proc/loadavg").read().split()[0])
            except OSError:
                load = None
            jvms = 0
            for p in glob.glob("/proc/[0-9]*/comm"):
                pid = int(p.split("/")[2])
                try:
                    if open(p).read().strip() == "java" and pid != self.own:
                        jvms += 1
                except OSError:
                    pass
            self.samples.append((time.time_ns(), load, jvms))

    def stop(self):
        self._halt.set()
        self.join()

    def window(self, start_ns, end_ns):
        inside = [s for s in self.samples if start_ns <= s[0] <= end_ns] or self.samples
        loads = [s[1] for s in inside if s[1] is not None]
        return {"load1_max": max(loads) if loads else None,
                "foreign_jvms_max": max((s[2] for s in inside), default=0),
                "samples": len(inside)}


# ------------------------------------------------------------------ one JVM run

def run_harness(cp, workload, seed, seconds, traced, data, out):
    os.makedirs(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cores = str(min(4, os.cpu_count() or 1))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            f"-Dderby.system.home={tmp}"] + JDK_OPENS
           + ["-cp", cp, "perfbench.Harness", "--workload", workload, "--data", data,
              "--out", out, "--seconds", str(seconds), "--trace", "1" if traced else "0",
              "--cores", cores, "--seed", str(seed)])
    box = BoxSampler()
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=out, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        box.own = proc.pid
        box.start()
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
        finally:
            box.stop()
    if rc != 0:
        tail = open(os.path.join(out, "jvm.log"), errors="replace").read()[-3000:]
        log(tail)
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        rec = json.load(f)
    rec["box"] = box.window(rec["windows"][0]["start_ns"], rec["windows"][-1]["end_ns"])
    return rec


# ------------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are too
    few samples for that percentile to lie above the median."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None, None
    k = n - 10
    if 2 * k <= n:
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / n


def end_to_end(workload, rec, win):
    """Contract metrics of one timed window: name -> (value, samples)."""
    ops = [o for o in win["ops"] if o["error"] is None]
    light = [o["s"] for o in ops if o["cls"] == LIGHT[workload]]
    if workload == "olap":
        heavy = [u["s"] for u in win["units"]]
        done = len(light)
    else:
        heavy = [o["s"] for o in ops if o["cls"] == HEAVY[workload]]
        # llm_dedup counts each pipeline pass as its six Dedup calls
        done = len(light) + (6 if workload == "llm_dedup" else 1) * len(heavy)
    return {"setup_s": (rec["setup"]["total"], 1),
            "heap_peak_mb": (win["heap_peak_mb"], win["gc"]),
            "ops_per_s": (done / win["seconds"], done),
            "light_p50_s": (median(light), len(light)),
            "heavy_p50_s": (median(heavy), len(heavy))}


def named_metrics(workload, rec, e2e, err_rate, attempted):
    """The untraced window's metrics under the workload's own names:
    name -> (value, sample count, percentile or None)."""
    ops = [o for o in rec["windows"][0]["ops"] if o["error"] is None]

    def cls_tail(cls):
        xs = [o["s"] for o in ops if o["cls"] == cls]
        v, pct = tail(xs)
        return v, len(xs), pct

    def e(k):
        return e2e[k] + (None,)

    out = {"setup_s": e("setup_s"), "error_rate": (err_rate, attempted, None),
           "heap_peak_mb": e("heap_peak_mb")}
    if workload == "olap":
        out.update(query_p50_s=e("light_p50_s"), query_tail_s=cls_tail("query"),
                   queries_per_s=e("ops_per_s"), pass_s=e("heavy_p50_s"))
    elif workload == "llm_dedup":
        out.update(pass_s=e("heavy_p50_s"), batch_s=e("light_p50_s"),
                   batch_tail_s=cls_tail("batch"), calls_per_s=e("ops_per_s"))
    else:
        out.update(read_p50_s=e("light_p50_s"), read_tail_s=cls_tail("read"),
                   write_p50_s=e("heavy_p50_s"), write_tail_s=cls_tail("write"),
                   ops_per_s=e("ops_per_s"), space_amp=(rec["extra"]["space_amp"], 1, None))
    return out


UNITS = dict(END_TO_END, error_rate="ratio", query_p50_s="s", query_tail_s="s",
             queries_per_s="1/s", pass_s="s", batch_s="s", batch_tail_s="s",
             calls_per_s="1/s", read_p50_s="s", read_tail_s="s", write_p50_s="s",
             write_tail_s="s", space_amp="ratio")


def per_layer(workload, rec, changed):
    """Per-layer metrics of a traced run (0 where a layer is unused)."""
    lay, extra = rec["layers"], rec["extra"]
    allops = lay.get("all", {})
    spans = lay.get("spans", {})
    out = {name: 0.0 for name, _ in PER_LAYER}
    for p in ("session", "tables", "warm", "table_create"):
        out[f"setup.{p}_s"] = rec["setup"].get(p, 0.0)
    for k, v in allops.items():
        if k.startswith("module."):
            kind = k.rsplit(".", 1)[1]
            if not k.startswith("module.Workloads."):
                out[f"module.engine.{kind}"] += v  # work not issued by the harness
            if k not in out:
                k = f"module.other.{kind}"  # a call site not named in MODULES
            out[k] += v
        elif k in out:
            out[k] = v
    for k in ("queries.build", "queries.collect"):
        out[f"{k}_s"] = spans.get(k, {}).get("mean_s", 0.0)
    for f in DEDUP_FNS:
        out[f"dedup.{f}_s"] = spans.get(f"dedup.{f}", {}).get("median_s", 0.0)
    for o in DML_OPS:
        out[f"dml.{o}_s"] = spans.get(f"dml.{o}", {}).get("median_s", 0.0)
    out["ingest.import_s"] = spans.get("ingest.import", {}).get("median_s", 0.0)
    if workload == "llm_dedup":
        res = os.path.join(rec["_out"], "results")
        n_rows = lambda fn: len(json.load(open(os.path.join(res, f"{fn}.json")))["rows"])
        cand = extra["counts"].get("candidate_pairs", 0)
        dup = n_rows("jaccardDupPairs")
        clusters = json.load(open(os.path.join(res, "dupClusters.json")))
        ci = clusters["columns"].index("cluster_id")
        out.update({"dedup.candidate_pairs": cand, "dedup.dup_pairs": dup,
                    "dedup.pair_yield": dup / cand if cand else 0.0,
                    "dedup.clusters": len({r[ci] for r in clusters["rows"]}),
                    "dedup.docs_kept": n_rows("nearDedupBest")})
    if workload == "dml_mix":
        ing = extra["ingest"]
        w = extra["writes"]
        out["ingest.rows"] = median([i["rows"] for i in ing]) or 0.0
        out["ingest.rejected"] = median([i["rejected"] for i in ing]) or 0.0
        out["dml.files_written"] = statistics.mean([x["files"] for x in w]) if w else 0.0
        out["dml.bytes_written"] = statistics.mean([x["bytes"] for x in w]) if w else 0.0
        row_bytes = extra["compact_bytes"] / max(extra["live_rows"], 1)
        amps = [x["bytes"] / (n * row_bytes) for x, n in zip(w, changed) if n > 0]
        out["dml.write_amp"] = median(amps) or 0.0
        out["dml.live_files"] = statistics.mean(extra["live_files"]) if extra["live_files"] else 0.0
        out["dml.versions_retained"] = extra["versions_retained"]
        out["dml.space_amp"] = extra["space_amp"]
    return out


# ------------------------------------------------------------------ one run

def git_state():
    # a checkout that is not a repository must not report an enclosing one
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, env=env)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, env=env,
                               capture_output=True, text=True, timeout=10)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def one(cp, workload, seed, seconds, traced, work):
    """Generate the inputs, run the harness, check the results.
    Returns (record, failed ops, wrong results, ops attempted, rows
    changed by each write)."""
    data = os.path.join(work, "data")
    out = os.path.join(work, "out")
    t0 = time.time()
    make_inputs(workload, seed, data)
    log(f"inputs generated in {time.time() - t0:.2f}s (not part of setup_s)")
    t0 = time.time()
    rec = run_harness(cp, workload, seed, seconds, traced, data, out)
    rec["_out"] = out
    t1 = time.time()
    changed = []
    kw = {"changed": changed} if workload == "dml_mix" else {}
    wrong = check.CHECKS[workload](data, out, rec["extra"], log, **kw)
    log(f"jvm {t1 - t0:.1f}s, check {time.time() - t1:.1f}s")
    ops = [o for w in rec["windows"] for o in w["ops"]]
    for o in ops:
        if o["error"]:
            log(f"FAILED {o['cls']} {o['name']}: {o['error']}")
    return rec, sum(1 for o in ops if o["error"]), wrong, len(ops), changed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("engine sources not found next to perfbench/ "
                         "(run from the root of a full checkout)")
    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec, failed, wrong, attempted, changed = one(
            cp, a.workload, a.seed, a.seconds, bool(a.trace), work)
        e2e = end_to_end(a.workload, rec, rec["windows"][0])
        named = named_metrics(a.workload, rec, e2e, (failed + wrong) / max(attempted, 1),
                              attempted)
        layers = None
        if a.trace:
            te2e = end_to_end(a.workload, rec, rec["windows"][1])
            layers = per_layer(a.workload, rec, changed)
            for m in END_TO_END:
                if m != "setup_s":
                    layers[f"overhead.{m}"] = te2e[m][0] - e2e[m][0]
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(os.path.join(rec["_out"], "spans.jsonl"), os.path.join(
                BUILD, "spans", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl"))
        head, dirty = git_state()
        manifest = gen.manifest(os.path.join(work, "data"))
        if a.workload == "olap":
            p = os.path.join(rec["_out"], "olap_order.txt")
            manifest["olap_order.txt"] = {
                "rows": sum(1 for _ in open(p)),
                "sha256": hashlib.sha256(open(p, "rb").read()).hexdigest()}
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_head": head, "git_dirty": dirty, "cores": rec["cores"],
            "heap_max_mb": rec["heap_max_mb"], "shuffle_partitions": rec["shuffle_partitions"],
            "spark_version": rec["spark_version"], "box": rec["box"],
            "inputs": manifest, "setup": rec["setup"],
            "windows": [{k: w[k] for k in ("traced", "seconds", "heap_peak_mb")}
                        for w in rec["windows"]],
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "n": n}
                           for k, (v, n) in e2e.items()},
            "named": {k: {"value": v, "unit": UNITS[k], "n": n, "percentile": p}
                      for k, (v, n, p) in named.items()},
            "failed_ops": failed, "wrong_results": wrong,
            "per_layer": layers,
            "layers_by_class": rec["layers"].get("per_class") if a.trace else None,
            "spans": rec["layers"].get("spans") if a.trace else None,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rpath = os.path.join(BUILD, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                         f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(rpath, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"# {a.workload} seed={a.seed} window={rec['windows'][0]['seconds']:.2f}s "
          f"cores={rec['cores']} heap_max={rec['heap_max_mb']:.0f}MB "
          f"shuffle_partitions={rec['shuffle_partitions']} git={head} dirty={dirty}")
    print(f"# box: load1_max={rec['box']['load1_max']} "
          f"foreign_jvms_max={rec['box']['foreign_jvms_max']}")
    for k, (v, n, p) in named.items():
        pct = f" (p{p:.0f})" if p is not None else ""
        print(f"{k:>16} = {v:.6g} {UNITS[k]}  n={n}{pct}")
    if layers:
        for k, u in PER_LAYER:
            print(f"{k:>28} = {layers[k]:.6g} {u}")
    print(f"# record: {os.path.relpath(rpath, ROOT)}")
    attempted = max(attempted, 1)
    metrics = ({k: {"value": layers[k], "unit": u} for k, u in SHARED_LAYER} if a.trace
               else {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()})
    print(json.dumps({"correct": failed + wrong == 0, "attempted": attempted,
                      "failed": failed + wrong, "metrics": metrics}))


if __name__ == "__main__":
    main()
