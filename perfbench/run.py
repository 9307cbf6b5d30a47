#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark program (perfbench/build.sbt) when the
sources changed, generates the workload's inputs from the seed, runs
one JVM with Spark in local mode for the time budget, checks every
output, and prints one JSON line last. `--trace 1` adds the per-layer
metrics (listener-based); the full record of every run, spans
included, is kept under .bench_build/results/.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
SPEC = json.loads((HERE / "workloads.json").read_text())
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, str(HERE))
import gen  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(GRAFT_SRC.rglob("*.scala")) +
                   list((HERE / "src").rglob("*.scala")) +
                   [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(home, bdir):
    """Compile and package graft plus the benchmark with sbt, then record
    a class-data-sharing archive of the classes a run loads, unless
    both already match the sources. Returns the jar."""
    jar = HERE / "target" / "scala-2.13" / "graft-perfbench_2.13-0.1.0-SNAPSHOT.jar"
    stamp_file = bdir / "build.stamp"
    stamp = source_stamp()
    if jar.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return jar
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    log = bdir / "build.log"
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "package"], cwd=HERE, env=env, stdout=f,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed", 3)
    train_cds(home, jar, bdir)
    stamp_file.write_text(stamp)
    return jar


def train_cds(home, jar, bdir):
    """One small curation run that writes the classes it loaded into a
    shared archive; every run maps it instead of loading Spark's and
    graft's classes one by one (JVM start-up is most of a run's
    set-up otherwise). Without the archive runs still work, slower."""
    archive = bdir / "classes.jsa"
    archive.unlink(missing_ok=True)
    work = bdir / "work" / "cds-train"
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("curate", 0, str(work / "data"),
                 {"docs": 200, "files": 2, "centers": 4})
    run_jvm(home, jar, {"workload": "curate", "data": work / "data",
                        "work": work, "out": work / "out", "seconds": 0,
                        "trace": 0, "cores": 2},
            bdir / "cds-train.log", [f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(home, jar, args, log, extra=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    archive = build_dir() / "classes.jsa"
    if extra is None:
        extra = [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", *extra,
           f"-Djava.io.tmpdir={args['work']}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}{os.pathsep}{home}/jars/*", "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1


# ---- output checks -----------------------------------------------------

def check_analytics(data, res):
    """Every query's first-pass rows against its SparkEntry.oracleSql
    in DuckDB, with the repository's oracle comparison."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(str(data), res["checks"]["results_dir"])
    out = buf.getvalue().splitlines()
    bad = {ln.split()[1].rstrip(":") for ln in out if ln.startswith("FAIL ")}
    missing = set(SPEC["analytics"]["queries"]) - \
        {ln.split()[1] for ln in out if ln.startswith(("PASS ", "FAIL "))}
    details = [ln for ln in out if ln.startswith(("FAIL", "   "))]
    return {q: "no oracle" for q in missing} | \
        {q: "oracle mismatch" for q in bad}, details


def _ids(path, cols=("doc_id",)):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=list(cols)).to_pydict()


def lsh_recall(j, rows, bands):
    """MinHash-LSH candidate probability at jaccard j (Dedup's docs)."""
    return 1.0 - (1.0 - j ** rows) ** bands


def check_curate(data, res, truth):
    import numpy as np
    import pyarrow.parquet as pq
    p = res["checks"]["params"]
    st = Path(res["checks"]["stages_dir"])
    bad = {}
    docs = pq.read_table(data / "docs", columns=["doc_id", "true_lang"]).to_pydict()
    all_ids = set(docs["doc_id"])
    junk = set(truth["junk"])
    exact = {c for c, _ in truth["exact"]}
    near = {c: o for c, o in truth["near"]}
    sem = {c: o for c, o in truth["semantic"]}

    lid = _ids(st / "langid", ("doc_id", "lang"))
    true_lang = dict(zip(docs["doc_id"], docs["true_lang"]))
    scored = [(i, l) for i, l in zip(lid["doc_id"], lid["lang"]) if i not in junk]
    acc = sum(true_lang[i] == l for i, l in scored) / max(1, len(scored))
    if len(lid["doc_id"]) != len(all_ids) or acc < 0.99:
        bad["langid"] = f"{len(lid['doc_id'])} rows, accuracy {acc:.4f}"
    q = set(_ids(st / "quality")["doc_id"])
    if all_ids - q != junk:
        bad["quality"] = f"removed {len(all_ids - q)}, planted junk {len(junk)}"
    e = set(_ids(st / "exact_dedup")["doc_id"])
    if q - e != exact:
        bad["exact_dedup"] = f"removed {len(q - e)}, planted exact {len(exact)}"
    m = set(_ids(st / "minhash_dedup")["doc_id"])
    removed = e - m
    recall = lsh_recall(truth["min_near_jaccard"],
                        p["num_hashes"] // p["bands"], p["bands"])
    caught = len(removed & set(near))
    if not removed <= set(near) or caught < math.floor(len(near) * recall):
        bad["minhash_dedup"] = (f"removed {len(removed)} ({caught} planted of "
                                f"{len(near)}), stated recall {recall:.6f}")
    d = set(_ids(st / "dsir")["doc_id"])
    if d != m:
        bad["dsir"] = f"{len(d)} weighted rows for {len(m)} inputs"
    s = set(_ids(st / "semdedup")["doc_id"])
    removed = d - s
    # a pair is found only when both land in one cluster (recall 1
    # within a cluster, 0 across): predict the clusters like SemDedup
    cen = pq.read_table(data / "centers.parquet").to_pydict()
    centers = np.asarray(cen["center"])[np.argsort(cen["idx"])]
    emb = pq.read_table(data / "embeddings").to_pydict()
    vec = dict(zip(emb["vec_id"], emb["embedding"]))
    def cluster(i):
        return int(np.argmin(((centers - np.asarray(vec[i])) ** 2).sum(1)))
    due = {c for c, o in sem.items() if c in d and o in d and
           cluster(c) == cluster(o)}
    if not removed <= set(sem) or not due <= removed:
        bad["semdedup"] = (f"removed {len(removed)}, planted {len(sem)}, "
                           f"{len(due - removed)} same-cluster copies kept")
    return bad


def check_admit(res, truth):
    """Per cycle: exactly the fresh documents are admitted (near and
    exact-text copies screened, replays dropped); at the end the
    corpus holds each id once. A wrong warm-up cycle or corpus fails
    every timed cycle, since they ran on that state."""
    p = res["checks"]["params"]
    bad = {}
    corpus = _ids(res["checks"]["corpus_dir"])["doc_id"]
    ids = set(corpus)
    if len(ids) != len(corpus):
        bad["all"] = f"{len(corpus) - len(ids)} duplicate ids in the corpus"
    recall = lsh_recall(truth["min_near_jaccard"],
                        p["num_hashes"] // p["bands"], p["bands"])
    for c in res["checks"]["cycles"]:
        t = truth["batches"][c["batch"]]
        near_in = sum(1 for n, _ in t["near"] if n in ids)
        why = []
        if any(i not in ids for i in t["fresh"]):
            why.append("fresh document missing")
        if any(n in ids for n, _ in t["exact"]):
            why.append("exact-text copy admitted")
        if near_in > math.floor(len(t["near"]) * (1 - recall)):
            why.append(f"{near_in} near copies admitted")
        if c["admitted"] != len(t["fresh"]) + near_in:
            why.append(f"admitted {c['admitted']}")
        if why:
            # batch 0 is the warm-up; batch b > 0 is timed cycle b - 1
            key = f"cycle {c['batch'] - 1}" if c["batch"] else "all"
            bad[key] = f"batch {c['batch']}: " + ", ".join(why)
    return bad


# ---- metrics -----------------------------------------------------------

def tail(xs):
    """The highest percentile with at least 10 samples beyond it, and
    at least the 75th: with few samples the 75th percentile stands in
    (the maximum of one run's few operations is mostly noise)."""
    s = sorted(xs)
    k = min(len(s) - 1, max(math.ceil(0.75 * len(s)) - 1, len(s) - 11))
    return s[k], round(100.0 * (k + 1) / len(s), 1), len(s)


def end_to_end(res, setup_s, man):
    ops, units = res["ops"], res["unit_s"]
    if res["min_units"] > 1:  # a stream: the first min_units units are the fixed work
        wall = sum(units[:res["min_units"]])
    else:
        wall = statistics.median(units)
    lat = [o["s"] for o in ops]
    t, pct, n = tail(lat)
    docs = res["docs_per_unit"] or sum(v["rows"] for v in man["tables"].values())
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (t, "s"),
        "docs_per_s": (docs * len(units) / sum(units), "1/s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }, {"op_tail_pct": pct, "op_samples": n}


def untraced_walls(results, workload):
    return [json.loads(f.read_text())["end_to_end"]["wall_s"]
            for f in sorted(results.glob(f"{workload}-s*-t0.json"))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (GRAFT_SRC / "graft").is_dir():
        fail(f"graft sources not found under {GRAFT_SRC}")
    load = os.getloadavg()[0]
    cores = min(4, os.cpu_count() or 1)
    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    home = spark_home()
    jar = build(home, bdir)

    results = bdir / "results"
    results.mkdir(exist_ok=True)
    if a.trace and not untraced_walls(results, a.workload):
        # the tracing overhead needs an untraced run of this build
        subprocess.run([sys.executable, __file__, "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", "0"], stdout=subprocess.DEVNULL, check=True)

    t_setup = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = bdir / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    t0 = time.monotonic()
    man = gen.generate(a.workload, a.seed, str(data))
    gen_s = time.monotonic() - t0
    truth = man.pop("truth", None)
    out = work / "out"
    jvm = {"workload": a.workload, "data": data, "work": work, "out": out,
           "seconds": a.seconds, "trace": a.trace, "cores": cores}
    if a.workload == "analytics":
        jvm["queries"] = ",".join(SPEC["analytics"]["queries"])
        jvm["warmup"] = ",".join(SPEC["analytics"]["warmup"])
    log = results / f"{tag}.log"
    rc = run_jvm(home, jar, jvm, log)
    res_file = out / "result.json"
    if rc != 0 or not res_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {rc}", 4)
    res = json.loads(res_file.read_text())

    if a.workload == "analytics":
        bad, details = check_analytics(data, res)
    elif a.workload == "curate":
        bad, details = check_curate(data, res, truth), []
    else:
        truth = {"batches": truth, "min_near_jaccard": man["min_near_jaccard"]}
        bad, details = check_admit(res, truth), []
    ops = res["ops"]
    # a wrong output fails every operation that produced it
    failed = sum(1 for o in ops if not o["ok"] or "all" in bad or
                 o["name"] in bad or f"{o['name']} {o['unit']}" in bad)
    attempted = len(ops)

    first_op = res["first_op_epoch_s"]
    metrics, tail_info = end_to_end(res, first_op - t_setup, man)
    layers = res.get("layers", {})
    if a.trace:
        layers["trace.overhead_ratio"] = metrics["wall_s"][0] / \
            statistics.median(untraced_walls(results, a.workload))
    layers.update({"setup.session_s": res["setup"]["session_s"],
                   "setup.generate_s": gen_s,
                   "setup.state_s": res["setup"]["state_s"],
                   "setup.warmup_s": res["setup"]["warmup_s"]})
    per_layer = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "nproc": os.cpu_count(), "cores": cores,
              "loadavg_start": load, "inputs": man, "gen_s": gen_s,
              "end_to_end": {k: v[0] for k, v in metrics.items()},
              "failed_ratio": failed / attempted, "failures": bad,
              "failure_details": details[:40], **tail_info,
              "layers": layers, "jvm": res}
    (results / f"{tag}.json").write_text(json.dumps(record))
    spans = out / "spans.json"
    if spans.exists():
        shutil.copy(spans, results / f"{tag}.spans.json")
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        shown = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                             "unit": m["unit"]} for m in per_layer}
    else:
        shown = {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "nproc": os.cpu_count(), "loadavg_start": load,
                      "failed_ratio": failed / attempted, **tail_info,
                      "failures": bad, "record": str(results / f"{tag}.json")}))
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
