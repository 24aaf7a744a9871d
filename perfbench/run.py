#!/usr/bin/env python3
"""Engine benchmark: dashboard, curation and ingest workloads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

It builds the engine plus the harness in perfbench/ (sbt, offline) when
the sources changed, generates the seeded inputs, runs the workload in one
JVM (`local[nproc]`, graft.Bench's session settings, one client thread,
closed loop), checks every result, and prints one JSON object as the last
line of stdout. `--trace 0` reports the end-to-end metrics; `--trace 1`
registers the listeners and reports the per-layer metrics instead.

Everything it writes stays under .bench_build/ in the checkout; the run's
private directory is removed at the end, except run.json and spans.jsonl,
which are kept under .bench_build/last/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
    raise SystemExit("engine sources not found: run from the root of a checkout")
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dashboard", "curation", "ingest")

# Every query a workload runs: the engine module it calls (per-layer
# metrics are credited to it) and the staged artifacts it builds when the
# stage root is empty (graft.SparkEntry.stagedArtifact prefixes).
# The dashboard's pages: read-only reference-dashboard queries over the
# order/lineitem star, plain aggregates and joins.
DASHBOARD = {
    "q01_headline_orders": ("analytics", []),
    "q02_stats_by_nation": ("joins", []),
    "q03_top_parts": ("analytics", []),
    "q06_share_by_region": ("joins", []),
    "q08_quartiles_by_status": ("analytics", []),
    "q09_latest_order_per_customer": ("analytics", []),
    "q17_top3_per_priority": ("analytics", []),
    "q40_rollup_orders": ("analytics", []),
    "q150_market_share": ("joins", []),
    "q183_shipping_priority": ("joins", []),
    "q270_top_supplier_revenue": ("joins", []),
    "q277_topk_per_nation": ("analytics", [])}
# The curation set: one query building each of five staged artifacts and
# an image kernel.
CURATION = {
    "q64_dedup_clusters": ("scale", ["pairs"]),
    "q170_winnow_dup_clusters": ("scale", ["wfp", "wpair"]),
    "q199_lr_train_score": ("text", ["lrw"]),
    "q220_part_triangles": ("graph", ["coedge"]),
    "q227_image_ahash_dedup": ("multimodal", [])}

# Per workload: scale factor of the inputs, and the measured wall time of
# one warm unit (a dashboard round, a curation pass, an ingest tick with
# its refresh) on a 4-core host, so that the warm section takes about
# --seconds there.
SCALE = {"dashboard": 0.01, "curation": 0.01, "ingest": 0.1}
DASHBOARD_ROUND_S = 7.0
CURATION_PASS_S = 4.7
INGEST_TICK_S = 2.7
INGEST_BATCHES = 60

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("wall_s", "s")]
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for root, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties"),
              os.path.join("..", "build.sbt")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles and packages with sbt when the sources changed. Returns the
    classpath. Runs sharing a checkout take turns here."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    cmd += ["package", "export Runtime/fullClasspathAsJars"]
    log("building engine and harness with sbt")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines()
             if ln.startswith(os.path.join(HERE, "target"))]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def workload_plan(workload, seed, seconds):
    """The seeded operation sequence of one workload, sized by seconds."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "dashboard":
        # a cold visit to every page, then rounds of repeat visits, each
        # round in its own seeded order
        first = list(DASHBOARD)
        r.shuffle(first)
        visits = []
        for _ in range(round(seconds / DASHBOARD_ROUND_S)):
            r.shuffle(first)
            visits += first
        return {"first": first, "visits": visits}
    if workload == "curation":
        passes = max(1, round(seconds / CURATION_PASS_S))
        plan = {"first": list(CURATION), "passes": passes}
        for p in range(passes):
            order = list(CURATION)
            r.shuffle(order)
            plan[f"pass{p}"] = order
        return plan
    return {"ticks": min(INGEST_BATCHES, 1 + max(4, round(seconds / INGEST_TICK_S)))}


def write_inputs(data_dir, workload, seed, seconds):
    """Writes everything the seed decides into data_dir: the tables, the
    workload's operation sequence and, for ingest, the batch files.
    Returns (sequence, batches or None, ingest shares or {})."""
    sf = SCALE[workload]
    gen.write_tables(data_dir, sf, seed)
    sequence = workload_plan(workload, seed, seconds)
    with open(os.path.join(data_dir, "sequence.json"), "w") as f:
        json.dump(sequence, f, sort_keys=True)
    if workload != "ingest":
        return sequence, None, {}
    batches, shares = gen.ingest_batches(sf, seed, INGEST_BATCHES)
    bdir = os.path.join(data_dir, "batches")
    os.makedirs(bdir)
    for i, t in enumerate(batches[:sequence["ticks"]]):
        gen.write(t, os.path.join(bdir, f"b{i:03d}.parquet"))
    return sequence, batches, shares


def prepare(workload, seed, seconds, run_dir, trace):
    """Generates the inputs and writes the plan the JVM reads. Returns the
    plan's path, the ingest batches (or None) and the inputs' fingerprint."""
    data_dir = os.path.join(run_dir, "data")
    sequence, batches, shares = write_inputs(data_dir, workload, seed, seconds)
    plan = {"workload": workload, "data": data_dir,
            "out": os.path.join(run_dir, "out"), "trace": trace}
    plan.update({f"{workload}.{k}": v for k, v in sequence.items()})
    for q, (module, stages) in {**DASHBOARD, **CURATION}.items():
        plan[f"module.{q}"] = module
        plan[f"stages.{q}"] = stages
    if batches:
        for i, t in enumerate(batches[:sequence["ticks"]]):
            plan[f"ingest.rows{i}"] = t.num_rows
            plan[f"ingest.expect{i}"] = check.refresh_expectation(
                gen.predict_base(batches, i + 1))
        plan.update({f"ingest.{k}": v for k, v in shares.items()})
    fingerprint = gen.fingerprint(data_dir)
    path = os.path.join(run_dir, "plan.tsv")
    with open(path, "w") as f:
        for k, v in plan.items():
            f.write(f"{k}\t{','.join(v) if isinstance(v, list) else v}\n")
    return path, batches, fingerprint


def determinism_check(run_dir, workload, seed, seconds, fingerprint):
    """Writes the run's inputs again with the same seed and once with the
    next seed, and compares the files' bytes by fingerprint. Returns a
    failure string, or None when the same seed gave byte-identical inputs
    and another seed other ones."""
    prints = {}
    for tag, s in (("same", seed), ("other", seed + 1)):
        d = os.path.join(run_dir, f"determinism-{tag}")
        write_inputs(d, workload, s, seconds)
        prints[tag] = gen.fingerprint(d)
        shutil.rmtree(d)
    if prints["same"] != fingerprint:
        return f"generator: seed {seed} wrote inputs {fingerprint}, then {prints['same']}"
    if prints["other"] == fingerprint:
        return f"generator: seeds {seed} and {seed + 1} wrote the same inputs"
    return None


def run_jvm(cp, plan_path, run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # The engine's javaOptions (build.sbt) except the heap: a fixed 2 GB
    # heap instead of -Xmx16g, under which the heap starts small and grows
    # and the warm sections took 15 % (dashboard) and 38 % (curation)
    # longer, with wider spreads. -UsePerfData: no hsperfdata file in the
    # system temp directory.
    cmd += ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            "-cp", cp, "perfbench.Main", plan_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")


def self_times(spans_path):
    """Seconds of each span name not covered by its child spans. A Spark
    job is a child of the deepest benchmark span it started in."""
    spans = [json.loads(ln) for ln in open(spans_path)]
    children = {}
    for s in spans:
        parent = s["parent"]
        if s["name"] == "job":
            inside = [p for p in spans if p["op"] == s["op"] and p["name"] != "job"
                      and p["start_ns"] <= s["start_ns"] < p["end_ns"]]
            parent = min(inside, key=lambda p: p["end_ns"] - p["start_ns"])["id"] \
                if inside else parent
        children.setdefault(parent, []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cur), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo - covered) / 1e9
    return {k: round(v, 6) for k, v in sorted(out.items())}


def pct(values, q):
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    try:
        plan_path, batches, fingerprint = prepare(
            a.workload, a.seed, a.seconds, run_dir, a.trace)
        plan = dict(ln.rstrip("\n").split("\t", 1) for ln in open(plan_path))
        nondeterminism = determinism_check(run_dir, a.workload, a.seed, a.seconds,
                                           fingerprint)
        t0 = time.time()
        run_jvm(cp, plan_path, run_dir)
        t1 = time.time()
        with open(os.path.join(out_dir, "run.json")) as f:
            run = json.load(f)
        failures = list(run["failures"])
        failures += check.oracle(data_dir, os.path.join(out_dir, "results"))
        if a.workload == "ingest":
            failures += check.ingest_base(os.path.join(out_dir, "ingest", "base"),
                                          gen.predict_base(batches, int(plan["ingest.ticks"])))
        log(f"jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
        if nondeterminism:
            failures.append(nondeterminism)
        if a.trace and run["reconcile"]:
            rec = run["reconcile"]
            if rec["wall_violations"] or rec["job_violations"]:
                failures.append(f"trace does not reconcile: {rec}")
        spans = os.path.join(out_dir, "spans.jsonl")
        if a.trace and os.path.exists(spans):
            run["self_s"] = self_times(spans)
        report(a, run, plan, fingerprint, failures)
    finally:
        keep = os.path.join(BUILD, "last", f"{a.workload}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in (os.path.join(out_dir, "run.json"), os.path.join(out_dir, "spans.jsonl"),
                  os.path.join(run_dir, "jvm.log")):
            if os.path.exists(f):
                shutil.copy(f, keep)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, run, plan, fingerprint, failures):
    ops = run["ops"]
    failed_names = {f.split(":")[0] for f in failures}
    n_failed = sum(1 for o in ops if o["status"] != "ok" or o["name"] in failed_names)
    n_failed = max(n_failed, 1 if failures else 0)
    timed = [o for o in ops if o["status"] == "ok" and o["name"] not in failed_names]
    first = [o for o in timed if o["phase"] == "first"]
    warm = [o for o in timed if o["phase"] == "warm"]
    lat = [o["wall_s"] for o in warm if o["name"] != "refresh"]
    e2e = {
        "setup_s": run["setup_s"],
        "first_pass_s": sum(o["wall_s"] for o in first),
        "wall_s": run["extra"].get("wall_s", 0.0),
    }
    detail = dict(e2e)
    detail["latency_p50_s"] = statistics.median(lat) if lat else 0.0
    detail["peak_heap_mb"] = run["peak_heap_mb"]
    detail["failed_ratio"] = n_failed / max(1, len(ops))
    detail["latency_samples"] = len(lat)
    if len(lat) >= 100:
        detail["latency_p90_s"] = pct(lat, 0.9)
    if a.workload == "ingest":
        refresh = [o["wall_s"] for o in warm if o["name"] == "refresh"]
        detail["refresh_p50_s"] = statistics.median(refresh) if refresh else 0.0
        detail["rows_per_s"] = run["extra"]["rows_per_s"]
        detail["write_amp"] = run["extra"]["write_amp"]
        detail["redeliver_share"] = float(plan["ingest.redeliver_share"])
        detail["late_share"] = float(plan["ingest.late_share"])
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "input_fingerprint": fingerprint, "trace": a.trace}))
    print(json.dumps({"session_conf": run["conf"], "cpus": run["cpus"]}))
    print(json.dumps({"detail": detail, "notes": run["notes"]}))
    if failures:
        print(json.dumps({"failures": failures}))
    if a.trace:
        print(json.dumps({"reconcile": run["reconcile"], "self_s": run.get("self_s", {})}))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in run["layers"].items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": not failures, "attempted": len(ops),
                      "failed": n_failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
