#!/usr/bin/env python3
"""The repository's benchmark: end-to-end timings of the engine's public
entry points on seeded inputs, with every output checked.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py; cached under .bench_build/inputs, outside every
timing), starts one JVM with one local[N] Spark session (N = min(4, nproc)),
runs the workload's checked first pass, then repeats its operation as a
closed loop with one client for --seconds. The last stdout line is one
JSON object: correct, attempted, failed and the metrics — the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it holds the workload's own metrics (see perfbench/README.md).
"""
import argparse
import csv
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# input sizes, stated in BENCHMARK.json's workload lines as well
MOVIELENS_MB = 250
WARM_RATINGS_BYTES = 4_000_000
ANN_VECTORS = 20_000
ANN_PROBES = 100
JVM_TIMEOUT_S = 170
HEAP = "3g"

WORKLOADS = ("movielens_csv", "small_query_mix", "ann_lifecycle")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def build_dir(root: str) -> str:
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def inputs(root: str, workload: str, seed: int) -> str:
    """Generates (or reuses) the workload's inputs for `seed`; keeps one
    generated set per input kind so the cache stays small."""
    kind, make = {
        "movielens_csv": (f"movielens-{MOVIELENS_MB}mb", lambda d: _movielens(d, seed)),
        "small_query_mix": ("sf01", lambda d: gen.sf01(d, seed)),
        "ann_lifecycle": (f"emb{ANN_VECTORS}", lambda d: gen.embeddings(d, seed, ANN_VECTORS)),
    }[workload]
    base = os.path.join(build_dir(root), "inputs")
    d = os.path.join(base, f"{kind}-seed{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    if os.path.isdir(base):
        for old in os.listdir(base):
            if old.startswith(kind + "-seed"):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    make(d)
    open(os.path.join(d, ".done"), "w").close()
    return d


def _movielens(d: str, seed: int) -> None:
    gen.movielens(d, seed, MOVIELENS_MB)
    # a small prefix of the same ratings warms the JIT in set-up
    with open(os.path.join(d, "ratings.csv"), "rb") as f:
        head = f.read(WARM_RATINGS_BYTES)
    with open(os.path.join(d, "warm_ratings.csv"), "wb") as f:
        f.write(head[:head.rfind(b"\n") + 1])


# ── output checks ──────────────────────────────────────────────────────────

def _duck(threads: int):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def _cell(x):
    # the stringification of tools/check.py: floats to 9 significant
    # digits, everything else as text
    if isinstance(x, float):
        return "nan" if math.isnan(x) else f"{x:.9g}"
    if hasattr(x, "item"):
        return _cell(x.item())
    return str(x)


def check_oracle(c: dict, sf_dir: str, threads: int) -> str:
    """The Spark output against the query's registered DuckDB oracle SQL
    over the same generated tables. Returns '' when equal."""
    import pandas as pd
    con = _duck(threads)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    want = con.execute(c["sql"]).df()
    got = pd.read_parquet(c["dir"])
    if sorted(got.columns) != sorted(want.columns):
        return f"{c['name']}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    cols = sorted(got.columns)
    rows = lambda df: sorted(tuple(_cell(v) for v in r)
                             for r in df[cols].itertuples(index=False))
    g, w = rows(got), rows(want)
    if g != w:
        diff = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
        return (f"{c['name']}: {len(g)} rows vs oracle {len(w)}; first difference "
                f"{g[diff] if diff < len(g) else None} vs {w[diff] if diff < len(w) else None}")
    return ""


def _spark_tsv(d: str) -> list:
    rows = []
    for f in sorted(os.listdir(d)):
        if f.startswith("part-"):
            with open(os.path.join(d, f), newline="") as fh:
                rows += list(csv.reader(fh, delimiter="\t", quotechar='"',
                                        escapechar="\\", doublequote=False))
    return rows


def check_movielens(c: dict, ml_dir: str, threads: int) -> str:
    """Both tab-separated outputs against DuckDB's read_csv over the same
    files: MovieRank exactly, row for row; MovieRating by membership, title
    and count exactly, its average within the 4-decimal output rounding,
    and in (avg_rating, movieId) order."""
    con = _duck(threads)
    con.execute(f"""CREATE VIEW movies AS SELECT * FROM read_csv(
        '{ml_dir}/movies.csv', header = true, quote = '"', escape = '"',
        columns = {{'movieId': 'INTEGER', 'title': 'VARCHAR', 'genres': 'VARCHAR'}})""")
    con.execute(f"""CREATE VIEW ratings AS SELECT * FROM read_csv(
        '{ml_dir}/ratings.csv', header = true,
        columns = {{'userId': 'INTEGER', 'movieId': 'INTEGER', 'rating': 'DOUBLE',
                   'timestamp': 'BIGINT'}})""")
    agg = """SELECT m.movieId, m.title, count(*) AS cnt, avg(r.rating) AS a
             FROM ratings r JOIN movies m USING (movieId)
             GROUP BY m.movieId, m.title"""
    want_rank = [(str(i), t, str(n)) for i, t, n in con.execute(
        f"SELECT movieId, title, cnt FROM ({agg}) ORDER BY cnt DESC, movieId").fetchall()]
    got_rank = [tuple(r) for r in _spark_tsv(os.path.join(c["dir"], "movierank"))]
    if got_rank != want_rank:
        diff = next((i for i, (a, b) in enumerate(zip(got_rank, want_rank)) if a != b),
                    min(len(got_rank), len(want_rank)))
        return f"movierank: {len(got_rank)} rows vs {len(want_rank)}; row {diff} differs"
    want = {i: (t, a, n) for i, t, n, a in con.execute(
        f"SELECT movieId, title, cnt, a FROM ({agg}) WHERE cnt > {gen.MIN_COUNT} "
        "AND a > 4.0").fetchall()}
    got = _spark_tsv(os.path.join(c["dir"], "movierating"))
    keys = [(float(a), int(i)) for i, _, a, _ in got]
    if keys != sorted(keys):
        return "movierating: output is not ordered by (avg_rating, movieId)"
    if len(got) != len(want):
        return f"movierating: {len(got)} rows vs {len(want)}"
    for i, t, a, n in got:
        w = want.get(int(i))
        if w is None or w[0] != t or int(n) != w[2] or abs(float(a) - w[1]) > 0.5e-4 + 1e-12:
            return f"movierating: movie {i} is {(t, a, n)}, oracle {w}"
    return ""


# ── metrics ────────────────────────────────────────────────────────────────

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def workload_metrics(workload: str, ops: list, input_bytes: int) -> dict:
    """The workload's own named metrics as {name: (value, unit)}; each
    timing is a median over the run's operations. The per-query latency
    percentiles of the mix need more samples than one run has, so
    summary.py computes them from the pooled `steps_ms`."""
    walls = [o["wall_ms"] / 1000.0 for o in ops]
    step = lambda name: [ms for o in ops for n, ms in o["steps"] if n == name]
    m = {}
    if workload == "movielens_csv":
        m["movielens_s"] = (median(walls), "s")
        m["movielens_mb_per_s"] = (median([input_bytes / 1e6 / w for w in walls]), "MB/s")
    elif workload == "small_query_mix":
        m["mix_s"] = (median(walls), "s")
    elif workload == "ann_lifecycle":
        m["ann_build_s"] = (median(step("ann_build")) / 1000.0, "s")
        m["ann_serve_s"] = (median(step("ann_serve")) / 1000.0, "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bdir = build_dir(root)
    classes = build.build(root, bdir)
    data = inputs(root, a.workload, a.seed)
    cores = max(1, min(4, os.cpu_count() or 1))

    # a fixed path: snapshot manifests record absolute paths, so a per-run
    # name would change the bytes the traced counters read
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(bdir, "traces", f"{a.workload}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={work}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "perfbench.PerfBench",
              f"workload={a.workload}", f"input={data}", f"work={work}",
              f"out={out}", f"seconds={a.seconds}", f"trace={a.trace}",
              f"cores={cores}", f"spans={spans}", f"probes={ANN_PROBES}"])
    log_path = os.path.join(bdir, "jvm.log")
    try:
        launched = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write(f"benchmark JVM ended with {rc}\n")
            return 1
        with open(out) as f:
            res = json.load(f)

        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        for c in res["checks"]:
            why = check_oracle(c, data, cores) if c["kind"] == "oracle" else \
                check_movielens(c, data, cores)
            if why:
                errors.append(why)
        if len(errors) > len(res["errors"]):
            # every later output was hashed against the checked one, so a
            # wrong checked output makes them all wrong
            failed = attempted
        if errors:
            sys.stderr.write("\n".join(errors) + "\n")
        correct = failed == 0

        ops = res["ops"]
        untraced = [o for o in ops if not o["traced"]]
        setup_s = res["timed_start_ms"] / 1000.0 - launched
        input_bytes = sum(os.path.getsize(os.path.join(data, f))
                          for f in ("movies.csv", "ratings.csv")
                          if os.path.exists(os.path.join(data, f)))
        named = workload_metrics(a.workload, untraced, input_bytes)
        named["setup_s"] = (setup_s, "s")
        named["error_rate"] = (failed / attempted, "ratio")
        print(json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "ops": len(untraced),
            "setup_parts_s": {
                "jvm": res["jvm_start_ms"] / 1000.0 - launched,
                "session": (res["session_ms"] - res["jvm_start_ms"]) / 1000.0,
                "checked_pass": (res["checked_ms"] - res["session_ms"]) / 1000.0,
                "settle": (res["timed_start_ms"] - res["checked_ms"]) / 1000.0},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "steps_ms": [o["steps"] for o in untraced]}))
        if a.trace:
            traced = [o for o in ops if o["traced"]]
            t_wall = median([o["wall_ms"] for o in traced])
            u_wall = median([o["wall_ms"] for o in untraced])
            values = {k: median([o["layers"][k] for o in traced]) for k in traced[0]["layers"]}
            values["artifact.tmp_dirs_left"] = res["tmp_dirs_left"]
            values["trace.overhead_pct"] = 100.0 * (t_wall / u_wall - 1)
            with open(os.path.join(root, "BENCHMARK.json")) as f:
                per_layer = json.load(f)["per_layer"]
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in per_layer}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_s": {"value": median([o["wall_ms"] for o in untraced]) / 1000.0, "unit": "s"},
            }
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
