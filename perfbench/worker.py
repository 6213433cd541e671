"""The program side of one benchmark run (started by run.py).

Usage: python3 perfbench/worker.py JOB.json

Drives the package only through its public functions, times every call
from here, checks every result, and writes RESULT.json next to the job
file. Reads its inputs (generated by run.py) from the paths in the job.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import pickle
import random
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

PKG = "data_engineering_project_spotify_app_spark"
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import checks  # noqa: E402
from spans import Tracer, with_self_times  # noqa: E402

TIMED_LOADS = 3


# --------------------------------------------------------------------------
# Set-up: session, first job, registry, workload preparation
# --------------------------------------------------------------------------


class Program:
    """Handles to the package modules imported by one set-up."""

    def __init__(self):
        self.session = importlib.import_module(f"{PKG}.session")
        self.registry = importlib.import_module(f"{PKG}.operators.registry")
        self.bucketed = importlib.import_module(f"{PKG}.sources.bucketed")
        self.ingest = importlib.import_module(f"{PKG}.sources.ingest")
        self.pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        self.schemas = importlib.import_module(f"{PKG}.schemas")


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def set_up(job: dict, tracer: Tracer, prepare) -> tuple:
    """Set the program up ``job["setups"]`` times; keep the last one.

    The first set-up is timed from process start (interpreter, imports,
    JVM launch); ``setup_s`` is the median of the later ones. Each later
    one stops the SparkContext, drops the package's modules and imports
    them again, and uses a fresh warehouse, so the session, the registry
    and the workload preparation all redo their work; only the JVM and
    pyspark's own modules stay loaded."""
    samples, parts = [], []
    spark = prog = None
    for i in range(job["setups"]):
        if spark is not None:
            spark.stop()
            _purge_package()
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(job["work"], f"warehouse{i}")
        part = {}
        t0 = time.perf_counter()
        with tracer.span("setup", op=f"setup{i}"):
            with tracer.span("session.import"):
                prog = Program()
            a = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = prog.session.get_spark(app_name="perfbench")
            b = time.perf_counter()
            with tracer.span("session.first_job"):
                spark.range(1).count()
            c = time.perf_counter()
            with tracer.span("registry.load_all_modules"):
                prog.registry.load_all_modules()
            d = time.perf_counter()
            part.update(prepare(spark, prog, tracer))
        t1 = time.perf_counter()
        part.update({"import_s": a - t0, "get_spark_s": b - a,
                     "first_job_s": c - b, "registry_s": d - c})
        if i == 0:
            # from process start: the interpreter and imports before t0
            samples.append(time.time() - job["spawn_epoch"])
        else:
            samples.append(t1 - t0)
        parts.append(part)
    return spark, prog, samples, parts


def _median_part(parts: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in parts)


# --------------------------------------------------------------------------
# Per-op Spark accounting (statusTracker, traced runs only)
# --------------------------------------------------------------------------


def spark_accounting(spark, group: str) -> tuple[int, int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return jobs, tasks, failed


def _pct(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def op_summary(lat: list[float], ops_per_s: float, wall: float) -> dict:
    n = len(lat)
    return {
        "op_p50_s": statistics.median(lat),
        "ops_per_s": ops_per_s,
        "n_ops": n,
        "op_p90_s_informational": _pct(lat, 90) if n >= 2 else lat[0],
        "samples_beyond_p90": n - int(0.9 * n + 0.999999),
        "timed_wall_s": wall,
    }


# --------------------------------------------------------------------------
# spotify_etl: overwrite loads, then artist_store requests from N clients
# --------------------------------------------------------------------------


def _staged_rows(path: str) -> tuple[int, int]:
    """(rows, part files) of an NDJSON directory written by stage_entity."""
    rows = files = 0
    for f in os.listdir(path):
        if f.startswith("part-"):
            files += 1
            with open(os.path.join(path, f), "rb") as fh:
                rows += sum(1 for line in fh if line.strip())
    return rows, files


def closed_loop(tag: str, n_clients: int, seconds: float | None, n_warm: int,
                next_item, run_op) -> tuple[list[dict], float]:
    """``n_clients`` threads, each sending its next op only after the
    previous one completed: for ``seconds`` (ops started before the end
    finish), or ``n_warm`` ops per client when ``seconds`` is None.
    ``run_op(client, op_id, item)`` returns the op's record; op ids are
    ``tag`` plus a counter, unique across clients (each op is its own
    Spark job group). Returns the records and the wall time."""
    records: list[dict] = []
    lock = threading.Lock()
    ids = itertools.count()
    t_start = time.perf_counter()
    deadline = None if seconds is None else t_start + seconds

    def client(k: int) -> None:
        done = 0
        while (done < n_warm) if deadline is None else (time.perf_counter() < deadline):
            with lock:
                op_id = f"{tag}{next(ids)}"
            rec = run_op(k, op_id, next_item(k))
            rec.update(client=k, start=t_start, end=time.perf_counter())
            with lock:
                records.append(rec)
            done += 1

    threads = [threading.Thread(target=client, args=(k,)) for k in range(n_clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records, time.perf_counter() - t_start


def client_throughput(records: list[dict]) -> float:
    """Correct ops per second, summed over clients. Each client is busy
    from the window's start to the end of its last op, so its throughput
    is its correct ops over that span; the sum does not depend on where
    the ops in flight at the end of the window happen to finish."""
    per_client: dict[int, list[dict]] = {}
    for r in records:
        per_client.setdefault(r["client"], []).append(r)
    return sum(
        sum(r["ok"] for r in mine) / (max(r["end"] for r in mine) - mine[0]["start"])
        for mine in per_client.values())


def run_spotify(job: dict, tracer: Tracer) -> dict:
    inp = job["inputs"]
    spark, prog, setup_samples, parts = set_up(job, tracer, lambda *a: {})
    ingest, pipeline = prog.ingest, prog.pipeline
    entities = list(prog.schemas.ENTITY_SCHEMAS)
    wh = os.path.join(job["work"], "entity_warehouse")

    load_entity_s = {e: [] for e in entities}
    if tracer.enabled:
        # time the per-entity calls load_all_entities makes, from outside
        inner = ingest.load_entity

        def traced_load_entity(spark_, staging, entity, warehouse):
            t = time.perf_counter()
            with tracer.span(f"ingest.load_entity.{entity}"):
                out = inner(spark_, staging, entity, warehouse)
            load_entity_s[entity].append(time.perf_counter() - t)
            return out

        ingest.load_entity = traced_load_entity

    phases = {"setup": _since_spawn(job)}
    # The first load runs cold code; the rate is taken from the later ones
    load_times = []
    for k in range(TIMED_LOADS):
        t = time.perf_counter()
        with tracer.span("op.load", op=f"load{k}"):
            loaded = ingest.load_all_entities(spark, inp["staging"], wh)
        load_times.append(time.perf_counter() - t)
    load_rows = sum(inp["rows"].values())
    got = {e: loaded[e].count() for e in entities}
    side_checks = {"load_counts": got == inp["rows"]}
    phases["timed_loads"] = _since_spawn(job)

    requests = job["requests"]
    expected = job["expected"]
    sc = spark.sparkContext
    cursor = itertools.count()

    def next_request(_client: int) -> str:
        return requests[next(cursor) % len(requests)]

    def one_request(client: int, group: str, name: str) -> dict:
        sc.setJobGroup(group, name)
        out = os.path.join(job["work"], "out", f"client{client}")
        rec = {"name": name}
        t0 = time.perf_counter()
        try:
            with tracer.span("op.artist_store", op=group):
                with tracer.span("pipeline.artist_etl"):
                    res = pipeline.artist_etl(
                        loaded["artists"], loaded["albums"], loaded["tracks"], name)
                t1 = time.perf_counter()
                with tracer.span("pipeline.summary"):
                    row = res.summary.first()
                t2 = time.perf_counter()
                if row is not None:
                    with tracer.span("ingest.stage_entity.albums"):
                        ingest.stage_entity(res.albums, out, "albums")
                    with tracer.span("ingest.stage_entity.tracks"):
                        ingest.stage_entity(res.tracks.drop("album_id"), out, "tracks")
            t3 = time.perf_counter()
        except Exception as exc:  # a failed request counts in failed, run goes on
            rec.update(lat=time.perf_counter() - t0, ok=False, error=repr(exc)[:300])
            return rec
        rec.update(lat=t3 - t0, build=t1 - t0, summary=t2 - t1, stage=t3 - t2)
        summary = staged = None
        rec["rows_out"] = 0
        if row is not None:
            summary = [row["artist_name"], row["albums_stored"], row["tracks_stored"]]
            a_rows, a_files = _staged_rows(os.path.join(out, "albums"))
            t_rows, t_files = _staged_rows(os.path.join(out, "tracks"))
            staged = [a_rows, t_rows]
            rec.update(rows_out=a_rows + t_rows, files_out=a_files + t_files)
        rec["ok"] = checks.request_ok(summary, staged, expected[name])
        if tracer.enabled:
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = spark_accounting(spark, group)
        return rec

    warm, _ = closed_loop("warm", job["clients"], None, job["warm_requests"],
                          next_request, one_request)
    phases["warm_requests"] = _since_spawn(job)
    records, wall = closed_loop("op", job["clients"], job["seconds"], 0,
                                next_request, one_request)
    phases["timed_requests"] = _since_spawn(job)
    ok = sum(r["ok"] for r in records)
    ops_per_s = client_throughput(records)
    summ = op_summary([r["lat"] for r in records], ops_per_s, wall)
    json_bytes = dir_bytes(inp["staging"])
    pq_bytes = dir_bytes(wh)
    hits = [r for r in records if r.get("files_out")]
    layer = _common_layers(setup_samples, parts, records, summ)
    layer.update({
        "op.build_s": statistics.median(r["build"] for r in records if "build" in r),
        "op.exec_s": statistics.median(
            r["summary"] + r["stage"] for r in records if "build" in r),
        "ingest.parquet_bytes_per_json_byte": pq_bytes / json_bytes,
        "ingest.rows_per_file": (
            sum(r["rows_out"] for r in hits) / sum(r["files_out"] for r in hits)
            if hits else 0.0),
        "pipeline.rows_out_per_op": statistics.mean(r["rows_out"] for r in records
                                                    if "rows_out" in r),
        "bucketed.landing_rows": 0,
    })
    detail = {
        **{f"ingest.load_entity_s.{e}": statistics.median(v)
           for e, v in load_entity_s.items() if v},
        "ingest.stage_entity_s": _median_or_none(r["stage"] for r in hits),
        "pipeline.artist_etl_s": statistics.median(
            r["build"] for r in records if "build" in r),
        "pipeline.summary_s": statistics.median(
            r["summary"] for r in records if "summary" in r),
        "requests.miss_share": sum(expected[r["name"]] is None for r in records)
        / len(records),
        "load_s": load_times,
        "phase_end_s": phases,
    }
    return {
        "e2e": {
            "setup_s": statistics.median(setup_samples[1:]),
            "op_p50_s": summ["op_p50_s"],
            "ops_per_s": summ["ops_per_s"],
            "load_rows_per_s": load_rows / statistics.median(load_times[1:]),
        },
        "layer": layer,
        "detail": detail,
        "ops": summ,
        "attempted": len(records),
        "failed": len(records) - ok,
        "checks": {**side_checks, "warm_requests_ok": all(r["ok"] for r in warm)},
        "errors": [r["error"] for r in records + warm if "error" in r][:5],
        "setup_samples_s": setup_samples,
        "java": _java_version(spark),
    }


def _java_version(spark) -> str:
    return spark.sparkContext._jvm.System.getProperty("java.version")


def _since_spawn(job: dict) -> float:
    return time.time() - job["spawn_epoch"]


def _median_or_none(values):
    values = list(values)
    return statistics.median(values) if values else None


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (or of the file ``path``);
    hidden and ``_``-prefixed files (checksums, markers) do not count."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith(".") and not f.startswith("_"))
    return total


def _common_layers(setup_samples, parts, records, summ) -> dict:
    layer = {
        "setup.cold_s": setup_samples[0],
        "session.get_spark_s": _median_part(parts, "get_spark_s"),
        "session.first_job_s": _median_part(parts, "first_job_s"),
        "registry.load_all_modules_s": _median_part(parts, "registry_s"),
        "trace.ops_per_s": summ["ops_per_s"],
    }
    acc = [r for r in records if "jobs" in r]
    if acc:
        layer["spark.jobs_per_op"] = statistics.mean(r["jobs"] for r in acc)
        layer["spark.tasks_per_op"] = statistics.mean(r["tasks"] for r in acc)
        layer["spark.failed_tasks"] = sum(r["failed_tasks"] for r in acc)
    return layer


# --------------------------------------------------------------------------
# llm_curation: landings built in set-up, then the query mix
# --------------------------------------------------------------------------


def run_curation(job: dict, tracer: Tracer) -> dict:
    inp = job["inputs"]
    sf = inp["sf_dir"]
    names = job["queries"]
    landing_names = job["landings"]
    landing_rows: dict[str, int] = {}

    def prepare(spark, prog, tracer_):
        out = {}
        builders = dict(prog.bucketed.landing_builders())
        for name in landing_names:
            t = time.perf_counter()
            with tracer_.span(f"bucketed.build.{name}"):
                builders[name](spark, sf)
            out[f"build_s.{name}"] = time.perf_counter() - t
        return out

    spark, prog, setup_samples, parts = set_up(job, tracer, prepare)
    phases = {"setup": _since_spawn(job)}
    builders = dict(prog.bucketed.landing_builders())
    for name in landing_names:  # rows landed, counted outside any timer
        landing_rows[name] = builders[name](spark, sf).count()
    build_s = [sum(p[f"build_s.{n}"] for n in landing_names) for p in parts]
    memo_hit = []
    if tracer.enabled:
        for name in landing_names:
            t = time.perf_counter()
            with tracer.span(f"bucketed.memo_hit.{name}"):
                builders[name](spark, sf)
            memo_hit.append(time.perf_counter() - t)

    with open(inp["oracle"], "rb") as f:
        oracle = pickle.load(f)
    harness = importlib.import_module("tests.oracle_harness")
    rng = random.Random(job["seed"])
    queries = prog.registry.QUERIES
    sc = spark.sparkContext

    # Value check: one full order-insensitive comparison per query against
    # the DuckDB oracle, untimed, from the clients' threads. It is also the
    # warm-up pass.
    def value_check(name: str) -> bool | str:
        try:
            df = queries[name](spark, sf)
            rows = [tuple(r) for r in df.collect()]
            return checks.values_ok(
                df.columns, harness._canon_rows(df.columns, rows), oracle[name])
        except Exception as exc:
            return repr(exc)[:300]

    order = rng.sample(names, len(names))
    with ThreadPoolExecutor(job["clients"]) as pool:
        value_ok = dict(zip(order, pool.map(value_check, order)))

    phases["value_check"] = _since_spawn(job)

    def permutations(k: int):
        r = random.Random(job["seed"] * 1000 + k)
        while True:
            yield r.sample(names, len(names))

    sequences = [permutations(k) for k in range(job["clients"])]

    def one_pass(_client: int, group: str, order: list[str]) -> dict:
        """One op: the whole mix in ``order``, each query built, run to
        ``count()`` and checked against the oracle's row count."""
        sc.setJobGroup(group, "curation pass")
        rec = {"queries": []}
        t0 = time.perf_counter()
        with tracer.span("op.pass", op=group):
            for name in order:
                q = {"name": name}
                a = time.perf_counter()
                try:
                    with tracer.span(f"query.{name}.build"):
                        df = queries[name](spark, sf)
                    b = time.perf_counter()
                    with tracer.span(f"query.{name}.exec"):
                        n = df.count()
                    q.update(build=b - a, exec=time.perf_counter() - b,
                             ok=checks.count_ok(n, oracle[name]))
                except Exception as exc:  # a failed query fails its pass, run goes on
                    q.update(ok=False, error=repr(exc)[:300])
                rec["queries"].append(q)
        rec.update(lat=time.perf_counter() - t0,
                   ok=all(q["ok"] for q in rec["queries"]))
        if tracer.enabled:
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = spark_accounting(spark, group)
        return rec

    records, wall = closed_loop("op", job["clients"], job["seconds"], 0,
                                lambda k: next(sequences[k]), one_pass)
    phases["timed"] = _since_spawn(job)

    ok = sum(r["ok"] for r in records)
    summ = op_summary([r["lat"] for r in records], client_throughput(records), wall)
    runs = [q for r in records for q in r["queries"]]
    whole = [r for r in records if all("build" in q for q in r["queries"])]
    layer = _common_layers(setup_samples, parts, records, summ)
    layer.update({
        "op.build_s": _median_or_none(
            sum(q["build"] for q in r["queries"]) for r in whole),
        "op.exec_s": _median_or_none(
            sum(q["exec"] for q in r["queries"]) for r in whole),
        "ingest.parquet_bytes_per_json_byte": 0.0,
        "ingest.rows_per_file": 0.0,
        "pipeline.rows_out_per_op": 0.0,
        "bucketed.landing_rows": sum(landing_rows.values()),
    })
    detail = {
        **{f"bucketed.build_s.{n}": _median_part(parts, f"build_s.{n}")
           for n in landing_names},
        "bucketed.memo_hit_s": statistics.median(memo_hit) if memo_hit else None,
        **{f"query.{n}.build_s": _median_or_none(
            q["build"] for q in runs if q["name"] == n and "build" in q)
           for n in names},
        **{f"query.{n}.exec_s": _median_or_none(
            q["exec"] for q in runs if q["name"] == n and "exec" in q)
           for n in names},
        "queries_run": len(runs),
        "landing_rows": landing_rows,
        "landing_build_s_by_setup": build_s,
        "phase_end_s": phases,
    }
    return {
        "e2e": {
            "setup_s": statistics.median(setup_samples[1:]),
            "op_p50_s": summ["op_p50_s"],
            "ops_per_s": summ["ops_per_s"],
            # the warm set-ups' builds, like setup_s
            "load_rows_per_s": sum(landing_rows.values()) / statistics.median(build_s[1:]),
        },
        "layer": layer,
        "detail": detail,
        "ops": summ,
        "attempted": len(records),
        "failed": len(records) - ok,
        "checks": {f"value.{n}": v is True for n, v in value_ok.items()},
        "errors": ([str(v) for v in value_ok.values() if v is not True]
                   + [q["error"] for q in runs if "error" in q])[:5],
        "setup_samples_s": setup_samples,
        "java": _java_version(spark),
    }


WORKLOADS = {"spotify_etl": run_spotify, "llm_curation": run_curation}


def main(argv: list[str]) -> int:
    job_path = argv[1]
    with open(job_path) as f:
        job = json.load(f)
    tracer = Tracer(bool(job["trace"]))
    try:
        result = WORKLOADS[job["workload"]](job, tracer)
    finally:
        _stop_spark()
    if tracer.enabled:
        spans_path = os.path.join(job["work"], "spans.jsonl")
        tracer.write(spans_path)
        result["spans"] = spans_path
        result["self_time_s"] = _self_time_by_name(tracer.spans)
    with open(os.path.join(os.path.dirname(job_path), "RESULT.json"), "w") as f:
        json.dump(result, f)
    return 0


def _self_time_by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in with_self_times(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
    return out


def _stop_spark() -> None:
    """Stop the SparkContext and wait for the JVM it launched to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv))
