#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 bench/run.py --workload <lloyd|data> --seed <n>
                         --seconds <s> --trace <0|1>

Builds the program and the benchmark main from source (only when the
sources changed), generates the workload's inputs from the seed, runs the
workload in one JVM at local[nproc], checks the outputs, and prints as the
last stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. The line before it is the full report. bench/README.md
documents the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import duckdb
import pyarrow.parquet as pq

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD = os.path.join(BENCH, ".build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "bench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 170       # a run (build excluded) must end within this
CONTENDED = 1.3        # probe slowdown over the run that flags contention
DEDUP_RECALL_FLOOR = 0.85  # near-dup answers must find this share of the truth
SEARCH_RECALL_FLOOR = 0.5  # IVF + LSH answers must hold this share of the exact top-10
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    sys.stderr.write(f"bench: {msg}\n")
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(work, args, extra=()):
    cp = f"{JAR}:{SPARK_JARS}/*"
    return ["java", *JVM_OPTS, *extra, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
            "graftbench.Main", *args]


def run_jvm(cmd, work, timeout):
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def train_class_archive():
    """Class-data-sharing archive of the classes a workload loads, dumped
    by one short training run: every later JVM maps it instead of loading
    and verifying those classes again (several seconds of each run's JVM
    start). A run without the archive only starts slower."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data, _ = gen.generate("data", 0, os.path.join(work, "inputs"))
    args = ["--workload", "data", "--data", data, "--work", work,
            "--out", os.path.join(work, "report.json"), "--seconds", "0", "--trace", "0"]
    try:
        run_jvm(java_cmd(work, args, [f"-XX:ArchiveClassesAtExit={CDS}"]), work, 300)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def build():
    """sbt compile of the program plus the benchmark main, packed into one jar,
    skipped when the sources are unchanged since the last successful build.
    sbt keeps its global state under bench/.build, inside the checkout."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.ivy.home={BUILD}/ivy"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-J-XX:-UsePerfData", *opts, "compile"], cwd=BENCH, env=env,
                           stdout=log, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        fail(f"build failed, see {BUILD}/build.log", 3)
    for f in (JAR, CDS, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in os.walk(CLASSES):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    train_class_archive()
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- gate --

def _canon(v):
    if isinstance(v, datetime.datetime):
        return (v.replace(tzinfo=None) - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    if hasattr(v, "item"):          # numpy scalars
        v = v.item()
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return float(v)
    return v


def same_rows(a, b):
    """Same multiset of rows; floats equal to 1e-9 relative."""
    def key(r):
        return tuple((0, f"{x:.6g}") if isinstance(x, float) else (1, str(x)) for x in r)

    def eq(x, y):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None:
                return x is y
            return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
        return x == y
    if len(a) != len(b):
        return False
    return all(len(r) == len(s) and all(eq(x, y) for x, y in zip(r, s))
               for r, s in zip(sorted(a, key=key), sorted(b, key=key)))


def duck(work, data, tables):
    con = duckdb.connect(config={"temp_directory": work})
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def check_oracle(con, g):
    """Compares every kept answer with its key's `SparkEntry.oracleSql`
    replay in DuckDB (columns by name, rows as a multiset). Returns the
    keys of the answers that differ, one entry per failed call."""
    want = {}
    for key, sql in g["oracle_sql"].items():
        res = con.sql(sql)
        order = sorted(range(len(res.columns)), key=lambda i: res.columns[i])
        want[key] = ([res.columns[i] for i in order],
                     [[_canon(r[i]) for i in order] for r in res.fetchall()])
    return [a["key"] for a in g["answers"]
            if want[a["key"]][0] != a["columns"] or not same_rows(want[a["key"]][1], a["rows"])]


def gate_dedup(g, data, truth):
    """Every answer's pairs must recompute to Jaccard >= 0.8 from the text,
    and find at least DEDUP_RECALL_FLOOR of the ground-truth pairs."""
    texts = pq.read_table(os.path.join(data, "documents.parquet"),
                          columns=["doc_id", "text"]).to_pydict()
    sh = {d: gen._shingles(t.split(" ")) for d, t in zip(texts["doc_id"], texts["text"])}
    with open(os.path.join(truth, "pairs.json")) as f:
        want = {(a, b) for a, b, _ in json.load(f)}
    failed, bad_pairs, recalls = 0, 0, []
    for ans in g["answers"]:
        cols = ans["columns"]
        ia, ib, ij = cols.index("doc_a"), cols.index("doc_b"), cols.index("jaccard")
        bad = 0
        for r in ans["rows"]:
            a, b = sh[r[ia]], sh[r[ib]]
            j = len(a & b) / len(a | b)
            if j < gen.JACCARD or abs(j - r[ij]) > 1e-9:
                bad += 1
        got = {(r[ia], r[ib]) for r in ans["rows"]}
        recall = len(got & want) / len(want) if want else 1.0
        recalls.append(recall)
        bad_pairs += bad
        failed += bool(bad or recall < DEDUP_RECALL_FLOOR)
    return failed, {"dedup_recall": min(recalls) if recalls else 0.0,
                    "dedup_truth_pairs": len(want), "dedup_bad_pairs": bad_pairs}


def gate_search(g, data, truth, work):
    """All four keys against their DuckDB replays; `q_topk_similar` also
    against the generator's brute-force top-10; the IVF and LSH answers
    together must hold SEARCH_RECALL_FLOOR of the exact top-10."""
    bad = check_oracle(duck(work, data, ["embeddings"]), g)
    with open(os.path.join(truth, "topk.json")) as f:
        want = json.load(f)
    want_ids, want_sims = [w[0] for w in want], [w[1] for w in want]
    exact = set(want_ids)
    hits, approx = 0, 0
    for a in g["answers"]:
        if a["key"] == "q_knn_join":
            continue
        c = a["columns"]
        got_ids = [r[c.index("vec_id")] for r in a["rows"]]
        if a["key"] == "q_topk_similar":
            got_sims = [r[c.index("sim")] for r in a["rows"]]
            if not (got_ids == want_ids or (
                    set(got_ids) == exact and len(got_sims) == len(want_sims)
                    and all(abs(x - y) <= 2e-9 for x, y in zip(got_sims, want_sims)))):
                bad.append(a["key"])
        elif a["key"] in ("q_ann_ivf", "q_ann_lsh"):
            hits += len(set(got_ids) & exact)
            approx += 1
    recall = hits / (len(exact) * approx) if approx else 0.0
    if recall < SEARCH_RECALL_FLOOR:
        bad += ["q_ann_ivf", "q_ann_lsh"] * (approx // 2)
    return len(bad), {"search_recall": recall, "search_bad_calls": sorted(bad)}


def gate_events(g, data, work):
    bad = check_oracle(duck(work, data, ["events", "customer"]), g)
    return len(bad), {"events_bad_calls": sorted(bad)}


# ------------------------------------------------------------- metrics --

def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        c = json.load(f)
    return ({m["name"]: m["unit"] for m in c["end_to_end"]},
            {m["name"]: m["unit"] for m in c["per_layer"]})


REPORT_UNITS = {"lloyd_s": "s", "lloyd_iter_ms": "ms", "dedup_s": "s", "dedup_recall": "ratio",
                "search_p50_ms": "ms", "search_p90_ms": "ms", "search_recall": "ratio",
                "search_requests": "count", "events_stream_s": "s", "events_batch_s": "s",
                "cache_mb": "MB", "heap_mb": "MB", "error_rate": "ratio", "setup_s": "s",
                "op_mean_ms": "ms"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    e2e_units, layer_units = load_contract()
    build()

    t0 = time.time()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data, truth = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "report.json")
        cmd = java_cmd(work, [
            "--workload", args.workload, "--data", data, "--work", work,
            "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace)], [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else [])
        try:
            rc = run_jvm(cmd, work, max(10, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            fail("workload run exceeded its deadline", 4)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"workload JVM exited with {rc}", 4)
        with open(out) as f:
            rep = json.load(f)

        facts = {}
        failed = rep["failed_calls"] + rep["failed_checks"]
        g = rep["gate"]
        if args.workload == "data":
            f2, facts = gate_dedup(g["dedup"], data, truth)
            f3, facts2 = gate_search(g["search"], data, truth, work)
            f4, facts3 = gate_events(g["events"], data, work)
            failed += f2 + f3 + f4
            facts.update(facts2, **facts3, unisolated_ops=g["dedup"]["unisolated_ops"])
        attempted = max(1, rep["attempted"])
        failed = min(failed, attempted)
        e2e = dict(rep["e2e"], error_rate=failed / attempted)
        e2e.update({k: v for k, v in facts.items() if k in ("dedup_recall", "search_recall")})
        probe = rep["probe_ms"]
        # the probe before the loop still shares the cores with the JIT
        # compiling the warm-up's code, so only a slowdown counts
        contended = probe["after"] > CONTENDED * probe["before"]

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": rep["cores"], "ops": rep["ops"], "traced_ops": rep["traced_ops"],
            "op_ms": rep["op_ms"], "session_build_s": rep["session_build_s"],
            "probe_ms": probe, "contended": contended,
            "gate": {k: v for k, v in g.items() if not isinstance(v, (dict, list))},
            "facts": facts,
            "metrics": {k: {"value": v, "unit": REPORT_UNITS.get(k, e2e_units.get(k, "ms"))}
                        for k, v in sorted(e2e.items())},
            "self_ms": rep["self_ms"],
        }
        if args.trace:
            report["layers"] = rep["layers"]
            metrics = {k: {"value": rep["layers"].get(k, 0.0), "unit": u} for k, u in layer_units.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        results = os.path.join(BENCH, ".work", "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(dict(report, spans=rep["spans"], stages=rep["stages"]), f)
        print(json.dumps(report))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
