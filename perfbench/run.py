"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload spotify_etl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. This process generates the
seeded inputs and the expected answers, starts the program side
(worker.py) in its own session, samples the resident memory of that
process tree (the JVM and Python workers included), stops every process
of the tree when the worker is done, and prints the result: an
informational ``{"meta": ...}`` line, with ``--trace 1`` a
``{"trace": ...}`` line of workload-specific layer times, and last the
result object. Everything it writes goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

from worker import PKG, dir_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # the whole run, generation included, must end before 180 s

# spotify_etl sizing: ~1k albums / ~7k tracks
N_ARTISTS = 200
WARM_REQUESTS = 1  # per client, untimed: the first requests run cold code
# Set-ups per run. The first is timed from process start (setup.cold_s);
# each later one restarts the session in the same JVM, and setup_s is
# the median of those warm set-ups on every workload.
SETUPS = 3
# The driver heap, unless SPARK_DRIVER_MEMORY is set. At the package's
# default (8g) the JVM's resident memory follows the garbage collector's
# heap growth rather than the data: peak_rss_mb reached ~5 GB on
# spotify_etl and spread 0.19-0.26 (IQR/median over 5-10 identical
# llm_curation runs on a 4-core VM), against 0.09-0.13 with 1g.
DRIVER_MEMORY = "1g"

# llm_curation: a fixed corpus, the first 500 rows of the sf0.1
# documents and embeddings fixture tables (FIXTURES.md section A), whose
# query order the seed permutes. Its DuckDB oracle answers are computed
# once per checkout and cached.
CORPUS_DIR = os.path.join(ROOT, "perfbench", "data")
CORPUS_TABLES = ("documents", "embeddings")
# The landing consumer (minhash LSH), exact-hash dedup, three
# text-expression scorers and one Arrow/pandas worker query. Left out to
# keep a run near one minute on 4 cores: q_cosine_topk, q_ann_ivf,
# q_bm25_search and q_curation_funnel (together ~7 s per pass, the
# funnel's DuckDB oracle ~40 s), q_dedup_ngram_jaccard (the slowest
# query, ~2 s with 4 clients, which widened the latency spread most) and
# q_simhash (its landing adds ~3 s to every set-up). One op is one pass
# over the whole mix in a seeded order: the latency of a single query
# (four take ~0.3 s alone, two ~1-1.5 s) depends on which one it is, and
# its median moved twice as much as throughput when the host slowed
# (IQR/median 0.27-0.42 against 0.18-0.21 over ten identical runs).
CURATION_QUERIES = [
    "q_dedup_exact", "q_minhash_lsh", "q_dedup_embedding",
    "q_quality_score", "q_lang_id", "q_token_count",
]
# the shared landing those queries consume, built during set-up
CURATION_LANDINGS = ["minhash_signatures"]

WORKLOADS = ("spotify_etl", "llm_curation")
E2E = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
    "load_rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "setup.cold_s": "s", "session.get_spark_s": "s", "session.first_job_s": "s",
    "registry.load_all_modules_s": "s", "op.build_s": "s", "op.exec_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count", "trace.ops_per_s": "1/s",
    "ingest.parquet_bytes_per_json_byte": "ratio", "ingest.rows_per_file": "rows",
    "pipeline.rows_out_per_op": "rows", "bucketed.landing_rows": "rows",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def clients() -> int:
    """Closed-loop client threads: half the cores. With one client per
    core the JVM's JIT and GC threads and the Python workers competed
    with the clients, and ops_per_s and op_p50_s of identical
    llm_curation runs (then with single-query ops) spread 0.16-0.37
    (IQR/median) on a 4-core VM; with two clients 0.06-0.13, at 15%
    less throughput."""
    return max(1, nproc() // 2)


def input_bytes(path: str) -> dict[str, int]:
    """Bytes per table (file or directory) under ``path``."""
    return {name: dir_bytes(os.path.join(path, name)) for name in sorted(os.listdir(path))}


# --------------------------------------------------------------------------
# Inputs and expected answers
# --------------------------------------------------------------------------


def prepare_spotify(seed: int, run_dir: str) -> dict:
    import gen

    cat = gen.spotify_catalog(seed, N_ARTISTS)
    staging = os.path.join(run_dir, "inputs", "staging")
    gen.write_staging(staging, cat["artists"], cat["albums"], cat["tracks"])
    requests = gen.artist_requests(seed, cat, 5000)
    expected = {}
    for name in requests:
        if name not in expected:
            out = gen.expected_outcome(cat, name)
            expected[name] = list(out) if out is not None else None
    rows = {e: len(cat[e]) for e in ("artists", "albums", "tracks")}
    return {
        "inputs": {"staging": staging, "rows": rows},
        "requests": requests,
        "expected": expected,
        "input_rows": rows,
        "input_bytes": input_bytes(staging),
    }


def prepare_curation(run_dir: str) -> dict:
    import pyarrow.parquet as pq

    sf = os.path.join(run_dir, "inputs", "corpus")
    os.makedirs(sf)
    rows = {}
    for table in CORPUS_TABLES:
        shutil.copyfile(os.path.join(CORPUS_DIR, f"{table}.parquet"),
                        os.path.join(sf, f"{table}.parquet"))
        rows[table] = pq.read_metadata(os.path.join(sf, f"{table}.parquet")).num_rows
    oracle = cached_oracle(sf)
    return {
        "inputs": {"sf_dir": sf, "oracle": oracle},
        "queries": CURATION_QUERIES,
        "landings": CURATION_LANDINGS,
        "input_rows": rows,
        "input_bytes": input_bytes(sf),
    }


def cached_oracle(sf: str) -> str:
    """DuckDB answers (column names, row count, canonical rows) for every
    curation query on the corpus in ``sf``, cached by corpus content and
    oracle SQL."""
    sys.path.insert(0, ROOT)
    from data_engineering_project_spotify_app_spark.operators import registry

    registry.load_all_modules()
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf)):
        with open(os.path.join(sf, name), "rb") as f:
            h.update(name.encode() + f.read())
    for q in CURATION_QUERIES:
        h.update(q.encode() + registry.ORACLES[q].encode())
    path = os.path.join(WORK, "cache", f"oracle-{h.hexdigest()[:20]}.pkl")
    if os.path.exists(path):
        return path
    import duckdb
    from tests.oracle_harness import _canon_rows

    con = duckdb.connect()
    for name in sorted(os.listdir(sf)):
        table = name.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM parquet_scan('{sf}/{name}')")
    answers = {}
    for q in CURATION_QUERIES:
        res = con.sql(registry.ORACLES[q])
        cols = list(res.columns)
        rows = [tuple(r) for r in res.fetchall()]
        answers[q] = {"cols": sorted(cols), "count": len(rows),
                      "canon": _canon_rows(cols, rows)}
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(answers, f)
    os.replace(path + ".tmp", path)
    return path


# --------------------------------------------------------------------------
# The worker's process tree: memory sampling and shutdown
# --------------------------------------------------------------------------


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes in session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != b"Z":  # field 6: session
            pids.append(int(name))
    return pids


def rss_bytes(pids: list[int]) -> dict[int, int]:
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * page
        except OSError:
            pass
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def stop_session(sid: int, grace: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    once none is alive."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        pids = session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end and session_members(sid):
            time.sleep(0.1)
    if session_members(sid):
        raise RuntimeError(f"processes of session {sid} did not exit")


def run_worker(job_path: str, run_dir: str, env: dict,
               deadline: float) -> tuple[int, int, list[str]]:
    log = open(os.path.join(run_dir, "worker.log"), "wb")
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), job_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak, at_peak, seen = 0, {}, set()
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    proc.kill()
                    proc.wait()
                    break
                # Count a process from its second sample on: a child the
                # JVM forks (e.g. Hadoop's local shell calls) shares the
                # JVM's address space until it execs, and would count the
                # JVM's memory twice for that instant.
                members = session_members(proc.pid)
                rss = rss_bytes([p for p in members if p in seen])
                seen = set(members)
                if sum(rss.values()) > peak:
                    peak = sum(rss.values())
                    at_peak = {f"{comm(p)}:{p}": b for p, b in rss.items()}
                time.sleep(0.1)
        finally:
            stop_session(proc.pid)
            if proc.poll() is None:
                proc.wait()
    finally:
        log.close()
    top = sorted(at_peak.items(), key=lambda kv: -kv[1])[:6]
    return proc.returncode, peak, [f"{p}:{b / 2**20:.0f}MB" for p, b in top]


# --------------------------------------------------------------------------


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings. Every metric but peak_rss_mb is a wall time
    or rate, so runs with a high share read slower: on a shared 4-core
    VM a steal share of 10-20% made identical llm_curation runs ~40%
    slower."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))  # field 8: steal


def pyspark_version() -> str | None:
    try:
        import pyspark
    except ImportError:
        return None
    return pyspark.__version__


def untraced_ops_per_s(workload: str) -> float | None:
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return None
    vals = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["workload"] == workload and not rec["trace"] and rec["correct"]:
                vals.append(rec["metrics"]["ops_per_s"])
    return statistics.median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # SIGTERM unwinds like an exception, so the worker's process tree is
    # still stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
    for need in (f"{PKG}/__init__.py", "tests/spotify_fixtures.py",
                 "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found under {ROOT}: run from a source checkout")
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc())
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY") or DRIVER_MEMORY,
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # keep the JVM's temp files and perf data inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    })

    if args.workload == "spotify_etl":
        prep = prepare_spotify(args.seed, run_dir)
    else:
        prep = prepare_curation(run_dir)
    job = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "work": run_dir, "setups": SETUPS,
        "clients": clients(), "warm_requests": WARM_REQUESTS,
        **{k: v for k, v in prep.items() if k not in ("input_rows", "input_bytes")},
    }
    job_path = os.path.join(run_dir, "job.json")
    job["spawn_epoch"] = time.time()  # set-up is timed from here
    with open(job_path, "w") as f:
        json.dump(job, f)
    ticks = cpu_ticks()
    rc, peak, peak_procs = run_worker(job_path, run_dir, env, t_start + DEADLINE_S)
    steal = steal_share(ticks, cpu_ticks())
    result_path = os.path.join(run_dir, "RESULT.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "worker.log"), "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        print(tail, file=sys.stderr)
        return fail(f"worker exited with code {rc}")
    with open(result_path) as f:
        res = json.load(f)

    correct = res["failed"] == 0 and all(res["checks"].values())
    e2e = {**res["e2e"], "peak_rss_mb": peak / 2**20}
    if args.trace:
        metrics = {k: {"value": res["layer"].get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"],
        "peak_rss_mb": peak / 2**20,
        "peak_rss_by_process": peak_procs,
        "clients": job["clients"],
        "python": sys.version.split()[0], "pyspark": pyspark_version(),
        "java": res["java"],
        "input_rows": prep["input_rows"], "input_bytes": prep["input_bytes"],
        "ops": res["ops"], "failed_frac": res["failed"] / max(1, res["attempted"]),
        "setup_samples_s": res["setup_samples_s"], "checks": res["checks"],
        "errors": res["errors"], "cpu_steal_share": steal,
    }
    if args.trace:
        base = untraced_ops_per_s(args.workload)
        meta["tracing_overhead_frac"] = (
            (base - res["e2e"]["ops_per_s"]) / base if base else None)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "correct": correct, "metrics": {k: v["value"] for k, v in metrics.items()},
              "meta": meta, "detail": res["detail"]}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    print(json.dumps({"meta": meta}))
    if args.trace:
        print(json.dumps({"trace": {**res["detail"], "self_time_s": res["self_time_s"],
                                    "spans_file": res["spans"]}}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
