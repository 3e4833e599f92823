#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload notebook|stores \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
runner from source with sbt (perfbench/build.sbt) into perfbench/target and
records the classpath under .bench_build/; later runs reuse the build while
the sources are unchanged.

A run generates its inputs from the seed (gen.py), starts one JVM that sets
the workload up and warms it up, then drives it in a closed loop for
`--seconds` of operation time, checks every output (checks.py), prints the
metrics by name, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a traced window between two untraced ones (the
difference is the tracing overhead). Each run works in its
own directory under .bench_build/ and deletes it at the end; the spans of a
traced run are kept in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
STAGE_TYPES = ["ParquetExtract", "SQLTransform", "TypingTransform", "HtmlTextTransform",
               "LangIdTransform", "DeduplicateTransform", "RedactTransform", "ParquetLoad",
               "SQLValidate"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the runner; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/ — run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("sources") == h.hexdigest():
            return s["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name a Spark installation (its jars/ are the build's dependencies)")
    opts = ["-Xmx2g", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "graftbench" in lines[-1] or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": cp}, fh)
    return cp


# ---------------------------------------------------------------------------
# run


def run_jvm(cp, args, run_dir):
    """One JVM, with its working directory and every temporary location
    inside `run_dir`, so nothing lands elsewhere."""
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dderby.system.home={run_dir}/derby",
           "-cp", cp, "graftbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local")
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=170)
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"runner exited with {p.returncode}", 1)


def latencies(ops):
    return [o["end"] - o["start"] for o in ops]


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def report(name, value, unit, n=None):
    extra = f"  (n={n})" if n is not None else ""
    print(f"  {name:<38} {fmt(value):>14} {unit}{extra}")


# the stores stream's nominal mix, which weighs its per-kind mean latencies
STORE_MIX = {"probe": 0.7, "ingest": 0.2, "takedown": 0.1}


def end_to_end(workload, res, ops):
    """The end-to-end metrics, from untraced operations. Every workload
    reports all of them:
    - notebook: op_p50_ms and op_mean_ms are the median and mean cell latency;
    - stores: op_p50_ms is the median probe latency, op_mean_ms the mean
      latency of one operation of the nominal 70/20/10 mix, from the mean of
      each kind, so it does not depend on where a run's window ends."""
    lat = latencies(ops)
    if workload == "notebook":
        p50, mean = stats.median(lat), sum(lat) / len(lat)
    else:
        by_kind = {k: latencies(o for o in ops if o["kind"] == k) for k in STORE_MIX}
        missing = [k for k, v in by_kind.items() if not v]
        if missing:
            die(f"the run ended before any {missing[0]} operation; raise --seconds", 1)
        p50 = stats.median(by_kind["probe"])
        mean = sum(STORE_MIX[k] * sum(v) / len(v) for k, v in by_kind.items())
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_ms": (p50, "ms"),
        "op_mean_ms": (mean, "ms"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }


def workload_view(workload, res, ops, meta, recall):
    """The workload-specific metrics named in perfbench/README.md, printed
    beside the contract's metrics."""
    lat = latencies(ops)
    print(f"{workload}: {len(ops)} operations measured")
    if workload == "notebook":
        report("cell_p50_ms", stats.median(lat), "ms", len(lat))
        p = stats.tail_percentile(len(lat))
        if p and p > 50:
            report(f"cell_p{p}_ms", stats.percentile(lat, p), "ms", len(lat))
        arc = [o["end"] - o["start"] for o in ops if o["kind"] == "arc"]
        if arc:
            report("pipeline_cell_s", stats.median(arc) / 1000.0, "s", len(arc))
        report("persisted_view_share", meta["persisted_share"], "ratio")
    else:
        for kind in ("probe", "ingest", "takedown"):
            ks = latencies(o for o in ops if o["kind"] == kind)
            if ks:
                report(f"{kind}_p50_ms", stats.median(ks), "ms", len(ks))
                p = stats.tail_percentile(len(ks)) if kind == "probe" else None
                if p and p > 50:
                    report(f"{kind}_p{p}_ms", stats.percentile(ks, p), "ms", len(ks))
        report("recall_at_10", recall["ivf"], "ratio")
        report("minhash_recall", recall["minhash"], "ratio")


def per_layer(workload, res, traced, untraced, cores, ingested_bytes, recall):
    """Per-layer metrics of the traced window, averaged per operation. A layer
    the workload does not reach reads 0."""
    tr = res["trace"]
    ids = {o["i"] for o in traced}
    n = max(1, len(traced))
    jobs = [j for j in tr["jobs"] if j["op"] in ids]
    actions = [a for a in tr["actions"] if a["op"] in ids]
    spans = [s for s in tr["spans"] if s["op"] in ids]
    tasks = [t for t in tr["tasks"] if t["op"] in ids]
    phases = [p for p in tr["phases"] if p["op"] in ids]
    wall = sum(o["end"] - o["start"] for o in traced)

    def per_op(vals):
        return sum(vals) / n

    def ivals(xs, op):
        return [(x["start"], x["end"]) for x in xs if x["op"] == op]

    m = {}
    cells = traced if workload == "notebook" else []
    m["repl.execute_ms"] = (per_op(o["end"] - o["start"] for o in cells) if cells else 0.0, "ms")
    m["repl.self_ms"] = (per_op(stats.self_time((o["start"], o["end"]), ivals(actions, o["i"]))
                                for o in cells) if cells else 0.0, "ms")
    render = {}
    for a in actions:
        if "Render.scala" in a["desc"]:
            render.setdefault(a["op"], []).append(a["end"] - a["start"])
    rendered = [v for k, v in render.items() if k in ids]
    m["render.actions_per_cell"] = (sum(len(v) for v in rendered) / len(rendered) if rendered else 0.0,
                                    "count")
    m["render.action_ms"] = (sum(sum(v) for v in rendered) / len(rendered) if rendered else 0.0, "ms")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (per_op(p[ph] for p in phases), "ms")
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.driver_gap_ms"] = (per_op(stats.driver_gap((o["start"], o["end"]), ivals(jobs, o["i"]))
                                       for o in traced), "ms")
    m["spark.listing_jobs"] = (sum(j["desc"].startswith("Listing leaf files") for j in jobs) / n, "count")
    task_ms = sum(t["task_ms"] for t in tasks)
    m["spark.task_ms"] = (task_ms / n, "ms")
    m["spark.executor_busy_frac"] = (task_ms / (wall * cores) if wall else 0.0, "ratio")
    for k, unit in (("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("input_rows", "rows")):
        m[f"spark.{k}"] = (sum(t[k] for t in tasks) / n, unit)
    m["core.parse_ms"] = (per_op(s["end"] - s["start"] for s in spans if s["name"] == "core.parse"), "ms")
    for st in STAGE_TYPES:
        m[f"core.stage_ms.{st}"] = (per_op(s["end"] - s["start"] for s in spans
                                           if s["name"] == f"core.stage.{st}"), "ms")
    for kind in ("probe", "ingest", "takedown"):
        ko = {o["i"] for o in traced if o["kind"] == kind}
        m[f"llm.{kind}.jobs"] = (sum(j["op"] in ko for j in jobs) / len(ko) if ko else 0.0, "count")
    disk = [o["disk"] for o in traced if o.get("disk")]
    m["llm.files_per_store"] = (sum(d["files"] for d in disk) / (2 * len(disk)) if disk else 0.0, "count")
    ing = [o for o in traced if o["kind"] == "ingest"]
    ing_bytes = sum(ingested_bytes(o) for o in ing)
    m["llm.bytes_written_per_ingested_byte"] = (
        sum(o["disk"]["bytes_written"] for o in ing) / ing_bytes if ing_bytes else 0.0, "ratio")
    tds = [o for o in traced if o["kind"] == "takedown"]
    # every doc has a vector, so the IVF rows removed count the victims
    victims = sum(r[1] for o in tds for r in o["out"]["result"] if r[0] == "ivf")
    m["llm.bytes_rewritten_per_victim"] = (
        sum(o["disk"]["bytes_written"] for o in tds) / victims if victims else 0.0, "bytes")
    for name, key in (("llm.recall_at_10", "ivf"), ("llm.minhash_recall", "minhash")):
        v = recall.get(key, 0.0)
        m[name] = (v if v == v else 0.0, "ratio")
    m["trace.spans_per_op"] = (len(spans) / n, "count")
    # overhead: traced against untraced medians of the same kind of
    # operation, weighted by how often the kind ran traced
    diffs, fracs, weights = [], [], []
    for kind in sorted({o["kind"] for o in traced}):
        ul = latencies(o for o in untraced if o["kind"] == kind)
        tl = latencies(o for o in traced if o["kind"] == kind)
        if ul and tl:
            diffs.append(stats.median(tl) - stats.median(ul))
            fracs.append(stats.median(tl) / stats.median(ul) - 1.0)
            weights.append(len(tl))
    w = sum(weights)
    m["trace.overhead_ms"] = (sum(d * k for d, k in zip(diffs, weights)) / w if w else 0.0, "ms")
    m["trace.overhead_frac"] = (sum(f * k for f, k in zip(fracs, weights)) / w if w else 0.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["notebook", "stores"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        ops, oracle, state = gen.generate(a.workload, a.seed, data_dir)
        blob = gen.ops_bytes(ops)
        ops_path = os.path.join(run_dir, "ops.json")
        with open(ops_path, "wb") as fh:
            fh.write(blob)
        print(f"{a.workload} seed {a.seed}: operation list sha256 {hashlib.sha256(blob).hexdigest()}")
        out_path = os.path.join(run_dir, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--ops", ops_path, "--data", data_dir,
                     "--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--out", out_path],
                run_dir)
        shutil.copy(out_path, os.path.join(BUILD, f"last-{a.workload}.json"))
        with open(out_path) as fh:
            res = json.load(fh)
        all_ops = res["ops"]
        if not all_ops:
            die("no operation completed", 1)

        # correctness: every operation, traced or not
        errors = {}
        recall = {}
        if a.workload == "notebook":
            nb = checks.NotebookOracle(data_dir, oracle)
            for o in all_ops:
                errors[o["i"]] = nb.check(o)
        else:
            rp = checks.StoresReplay(state["texts"], state["vecs"], ops["meta"]["base"])
            for o in all_ops:
                errors[o["i"]] = rp.check(o, ops["ops"][o["input"]])
            recall = {"ivf": rp.recall(), "minhash": rp.minhash_recall()}
        failed = [i for i, e in errors.items() if e]
        for i in failed[:5]:
            print(f"  operation {i} wrong: {'; '.join(errors[i])[:400]}")

        untraced = [o for o in all_ops if not o["traced"]]
        traced = [o for o in all_ops if o["traced"]]
        workload_view(a.workload, res, untraced, ops.get("meta", {}), recall)
        report("failed_frac", len(failed) / len(all_ops), "failed/attempted", len(all_ops))
        if a.trace == 0:
            metrics = end_to_end(a.workload, res, untraced)
        else:
            def ingested_bytes(o):
                # the batch's text and vectors, as the stores receive them
                spec = ops["ops"][o["input"]]
                ids = range(spec["lo"], spec["hi"])
                return sum(len(state["texts"][i].encode()) + 4 * gen.DIM for i in ids)
            metrics = per_layer(a.workload, res, traced, untraced, res["cores"], ingested_bytes, recall)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            trace_path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "spans": res["trace"]["spans"],
                           "metrics": {k: v for k, (v, _) in metrics.items()}}, fh)
            print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
        for k, (v, unit) in metrics.items():
            report(k, v, unit)
        print(json.dumps({"correct": not failed, "attempted": len(all_ops), "failed": len(failed),
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
