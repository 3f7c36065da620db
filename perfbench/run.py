#!/usr/bin/env python3
"""The repository benchmark: one command per workload, run from the root of
a checkout.

    python3 perfbench/run.py --workload <etl_landing|dedup_cascade|operator_sweep>
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source on first use (the classes
are cached in `.bench_build/`, keyed by a hash of the sources), generates
the workload's inputs from the seed, runs one closed-loop client in one
local-mode JVM, checks every operation's output, and prints one JSON
result as the last line of standard output. WORKLOADS.md describes the workloads and metrics.
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
import landing  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
CPUS = len(os.sched_getaffinity(0))  # nproc
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads from the checkout: the engine's and
    the harness's build definitions and all of `src/main`, resources too."""
    h = hashlib.sha256()
    for r in ["build.sbt", "project", "src/main", "perfbench/harness"]:
        p = os.path.join(ROOT, r)
        if not os.path.exists(p):
            fail(f"missing {r}: run from the root of a checkout of the repository")
        files = [p] if os.path.isfile(p) else []
        for d, subdirs, fs in os.walk(p):
            # sbt's own output: compiled classes and the meta-build
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", ".bsp")
                                and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source state and returns the
    classpath. The compiled class directories (resources included) are
    copied under `.bench_build/<hash>/`, so a cached classpath keeps
    pointing at the classes of its own sources whatever sbt later writes
    to `target/`."""
    out = os.path.join(BUILD, source_hash()[:16])
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    shutil.rmtree(out, ignore_errors=True)  # an interrupted copy
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(out, f"classes{i}")
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(classpath)
    os.replace(cp_file + ".tmp", cp_file)
    return classpath


def jvm(classpath, args, tmp, timeout):
    """Runs the harness; stops the run unless it exits cleanly in time."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Harness"] + args
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"harness did not finish within {timeout:.0f}s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        fail(f"harness exited with {p.returncode}")


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- plans


def etl_plan(spec, seed, work, trace):
    """Fresh landing directories for every operation; returns ops, expectations."""
    n_passes, per_pass = spec["timed_passes"], spec["batches_per_pass"]
    n_batches = 1 + per_pass * n_passes + (2 * per_pass + 1 if trace else 0)
    batches = landing.generate(seed, n_batches, spec["docs_per_batch"], spec["ads_per_doc"])
    expect, counter = {}, iter(range(10**6))

    def op(docs, exp):
        name = f"batch_{next(counter):03d}"
        path = os.path.join(work, "landing", name)
        landing.write_batch(path, docs)
        expect[name] = exp
        return {"kind": "etl", "name": name, "path": path, "out": os.path.join(work, "out", name)}

    def edge():
        docs = landing.edge_batch()
        return op(docs, landing.expected(docs))

    it = iter(batches)
    first = op(*next(it))
    passes = [[op(*next(it)) for _ in range(per_pass)] for _ in range(n_passes)]
    plan = {"first": first, "passes": passes, "edge": edge()}
    if trace:
        for key in ("reference_pass", "traced_pass"):
            plan[key] = [op(*next(it)) for _ in range(per_pass)]
        plan["breakdown"] = op(*next(it))
    return plan, expect


def query_plan(spec, trace):
    """Every pass runs the members in inventory order. The tables are the
    committed ones whatever the seed: the expected row counts hold for them
    only, and the order a cold JVM meets the queries in moves their times."""
    one = [{"kind": "query", "name": n} for n in spec["pass"]]
    plan = {"first": {"kind": "query", "name": spec["first"]},
            "passes": [one] * spec["timed_passes"]}
    if trace:
        plan["reference_pass"] = plan["traced_pass"] = one
    return plan


# --------------------------------------------------------------- checks


def check_op(rec, checks, expect_etl, expect_rows):
    """True when the operation's output matches its expectation."""
    if not rec["ok"]:
        return False
    if rec["name"] in expect_etl:
        exp, got = expect_etl[rec["name"]], checks[rec["name"]]
        return (got["curated"] == exp["curated"] and got["quarantine"] == exp["quarantine"]
                and got["report"] == exp["report"])
    want = expect_rows.get(rec["name"])
    return rec["rows"] > 0 if want is None else rec["rows"] == want


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # A run times a fixed amount of work, the workload's timed_passes, so
    # that what it measures does not depend on the host's speed; run_seconds
    # in BENCHMARK.json is about how long those passes take.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    specs = load("workloads.json")["workloads"]
    if a.workload not in specs:
        fail(f"unknown workload {a.workload}; known: {', '.join(specs)}")
    spec = specs[a.workload]
    classpath = build()
    t_start = time.time()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        expect_etl, expect_rows = {}, {}
        if spec["kind"] == "etl":
            plan, expect_etl = etl_plan(spec, a.seed, work, a.trace)
        else:
            plan = query_plan(spec, a.trace)
            expect_rows = load("expected_rows.json")
        plan.update(data=os.path.join(HERE, spec.get("data", "data/sf0.01")),
                    work=work, cpus=CPUS, trace=bool(a.trace), now=landing.NOW)
        plan_file = os.path.join(work, "plan.json")
        with open(plan_file, "w") as f:
            json.dump(plan, f)
        out_file = os.path.join(work, "out.json")
        jvm(classpath, ["--plan", plan_file, "--out", out_file],
            os.path.join(work, "tmp"), DEADLINE_S - (time.time() - t_start))
        with open(out_file) as f:
            raw = json.load(f)
        result = summarize(a, spec, raw, expect_etl, expect_rows)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def summarize(a, spec, raw, expect_etl, expect_rows):
    window = [r for p in raw["passes"] for r in p]
    attempted_ops = [raw["first"]] + window + raw["reference_pass"] + raw["traced_pass"] + (
        [raw["edge"]] if raw.get("edge") else [])
    ok = {id(r): check_op(r, raw["checks"], expect_etl, expect_rows) for r in attempted_ops}
    wrong = [r for r in attempted_ops if r["ok"] and not ok[id(r)]]
    failed = [r for r in attempted_ops if not ok[id(r)]]
    for r in failed:
        log(f"FAILED {r['name']}: {r.get('error') or 'output differs from expected'}")
    snapshot_ok = True
    if spec["kind"] == "etl":
        ids = set()
        for r in attempted_ops:
            if r["ok"]:
                ids.update(expect_etl[r["name"]]["curated_ids"])
        snap = raw["snapshot"]
        snapshot_ok = snap["rows"] == len(ids) and snap.get("distinct_ids", 0) == len(ids)
        if not snapshot_ok:
            log(f"snapshot holds {snap['rows']} rows, expected {len(ids)}")
    timed = raw["passes"]
    op_s = [r["secs"] for p in timed for r in p]
    tail = metrics.tail_percentile(op_s)
    log(f"{a.workload}: {len(raw['passes'])} passes, {len(op_s)} timed ops, "
        f"median op {statistics.median(op_s):.3f}s, "
        f"window {raw['window_s']:.1f}s, "
        f"pass_s={[round(sum(r['secs'] for r in p), 3) for p in raw['passes']]}, "
        f"setup {raw['setup_s']:.3f}s, peak rss {raw['peak_rss_mb']:.0f} MB, "
        f"live heap {timed[-1][-1]['heap_mb']:.0f} MB, "
        f"tail percentile "
        f"{'n/a' if tail is None else f'p{tail[0]}={tail[1]:.3f}s'} over {len(op_s)} samples")
    log("first pass: " + ", ".join(f"{r['name']}={r['secs']:.2f}s/{r['heap_mb']:.0f}MB"
                                   for r in raw["passes"][0]))
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "first_op_s": (raw["first"]["secs"], "s"),
        "wall_s": (sum(op_s), "s"),
    }
    if a.trace:
        values = traced_metrics(raw, expect_etl)
        overhead = (sum(r["secs"] for r in raw["traced_pass"])
                    - sum(r["secs"] for r in raw["reference_pass"]))
        spans_file = os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as f:
            json.dump({"spans": raw["spans"], "traced_pass": raw["traced_pass"]}, f)
        log(f"tracing overhead: traced pass - untraced pass = {overhead:+.3f}s; "
            f"spans in {os.path.relpath(spans_file, ROOT)}")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": not wrong and snapshot_ok, "attempted": len(attempted_ops),
            "failed": len(failed), "metrics": out}


def unit_of(name):
    for suffix, unit in (("per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_mb_left", "MB"),
                         ("_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def traced_metrics(raw, expect_etl):
    ops = raw["traced_pass"] + ([raw["edge"]] if raw.get("edge") else [])
    failed = {}
    for r in ops:
        if not r["ok"]:
            failed[r["layer"]] = failed.get(r["layer"], 0) + 1
    values = metrics.layer_metrics(raw["spans"], failed)
    build = [s for s in raw["spans"] if s["name"] == "etl.build"]
    if build:  # runWithId does not return between building and writing
        values["etl.build_s"] = statistics.median(s["end"] - s["start"] for s in build) / 1e3
    values.update(metrics.stage_metrics(raw["spans"]))
    etl_ok = [r for r in ops if r["layer"] == "etl" and "written_b" in r]
    snap = raw["snapshot"]
    values.update({
        "io.bytes_written_mb": statistics.median([r["written_b"] / 1e6 for r in etl_ok])
        if etl_ok else 0.0,
        "etl.cached_mb_left": max([r.get("cached_mb_left", 0.0) for r in ops] or [0.0]),
        "functions.register_s": raw["register_s"],
        "io.write_amp": (sum(r["written_b"] for r in etl_ok) / sum(r["landing_b"] for r in etl_ok))
        if etl_ok else 0.0,
        "io.snapshot_space_amp": snap["dir_b"] / snap["live_b"] if snap.get("live_b") else 0.0,
        "etl.ads_per_s": (sum(expect_etl[r["name"]]["ads"] for r in etl_ok)
                          / sum(r["secs"] for r in etl_ok)) if etl_ok else 0.0,
        "jvm.peak_rss_mb": raw["peak_rss_mb"],
        "jvm.live_heap_mb": raw["traced_pass"][-1]["heap_mb"],
    })
    return {k: values[k] for k in metrics.per_layer_names()}


if __name__ == "__main__":
    main()
