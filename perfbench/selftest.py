"""Self-tests of the benchmark's own code (no Spark needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
import tempfile
import threading

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer, with_self_times  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_is_deterministic_per_seed():
    with tempfile.TemporaryDirectory() as tmp:
        dirs = []
        for i, seed in enumerate((7, 7, 8)):
            cat = gen.spotify_catalog(seed, 40)
            d = os.path.join(tmp, f"staging{i}")
            gen.write_staging(d, cat["artists"], cat["albums"], cat["tracks"])
            dirs.append(d)
        assert _same_tree(dirs[0], dirs[1])  # seed 7 twice
        assert not _same_tree(dirs[0], dirs[2])  # another seed, other bytes
    a = gen.spotify_catalog(7, 40)
    assert gen.artist_requests(7, a, 200) == gen.artist_requests(7, a, 200)


def test_catalog_exercises_dedup_null_and_miss_paths():
    cat = gen.spotify_catalog(3, 200)
    assert any(a["id"] is None for a in cat["albums"])
    assert any(t["id"] is None for t in cat["tracks"])
    assert any(len({r["id"] for r in a["artists"]}) < len(a["artists"])
               for a in cat["albums"])
    reqs = gen.artist_requests(3, cat, 2000)
    misses = [n for n in reqs if gen.expected_outcome(cat, n) is None]
    assert 0 < len(misses) < 0.1 * len(reqs)
    hit = next(n for n in reqs if n not in misses)
    assert gen.expected_outcome(cat, hit)[0] == hit


def test_metric_names_match_the_contract():
    with open(os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    assert e2e == set(run.E2E) and layer == set(run.PER_LAYER)
    assert not e2e & layer
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    trace_names = [f"query.{q}.build_s" for q in run.CURATION_QUERIES]
    trace_names += [f"bucketed.build_s.{n}" for n in run.CURATION_LANDINGS]
    for name in [*e2e, *layer, *trace_names, *(w for w in run.WORKLOADS)]:
        assert NAME_RE.fullmatch(name), name


def test_checker_rejects_a_wrong_answer():
    oracle = {"count": 25, "cols": ["a", "b"], "canon": [(1, "x")]}
    assert checks.count_ok(25, oracle)
    assert not checks.count_ok(24, oracle)
    assert checks.values_ok(["b", "a"], [(1, "x")], oracle)
    assert not checks.values_ok(["a", "b"], [(1, "y")], oracle)
    want = ["Neon Harbor #00000", 3, 17]
    assert checks.request_ok(list(want), [3, 17], want)
    assert not checks.request_ok(["Neon Harbor #00000", 3, 16], [3, 16], want)
    assert not checks.request_ok(list(want), [3, 16], want)  # sink lost a row
    assert not checks.request_ok(None, None, want)  # a hit reported as a miss
    assert checks.request_ok(None, None, None)  # the empty-search outcome
    assert not checks.request_ok(list(want), [3, 17], None)


def test_span_self_times_are_never_negative():
    spans = [  # children overlap each other and run past their parent
        {"id": 0, "name": "op", "parent": None, "op": "o", "start": 0.0, "end": 4.0},
        {"id": 1, "name": "a", "parent": 0, "op": "o", "start": 0.5, "end": 2.5},
        {"id": 2, "name": "b", "parent": 0, "op": "o", "start": 2.0, "end": 3.0},
        {"id": 3, "name": "c", "parent": 0, "op": "o", "start": 3.5, "end": 5.0},
        {"id": 4, "name": "d", "parent": 1, "op": "o", "start": 0.5, "end": 2.5},
    ]
    self_s = {s["name"]: s["self"] for s in with_self_times(spans)}
    assert self_s == {"op": 1.0, "a": 0.0, "b": 1.0, "c": 1.5, "d": 2.0}

    tracer = Tracer(True)

    def work(k: int) -> None:
        for i in range(50):
            with tracer.span("root", op=f"{k}-{i}"):
                with tracer.span("child"):
                    with tracer.span("leaf"):
                        pass
                with tracer.span("child"):
                    pass

    threads = [threading.Thread(target=work, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    out = with_self_times(tracer.spans)
    assert len(out) == 4 * 50 * 4
    assert all(s["self"] >= 0 for s in out)
    by_id = {s["id"]: s for s in out}
    assert all(by_id[s["parent"]]["op"] == s["op"] for s in out if s["parent"] is not None)


def test_tracing_off_records_nothing():
    tracer = Tracer(False)
    with tracer.span("root", op="x"):
        pass
    assert tracer.spans == []


if __name__ == "__main__":
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as exc:  # report every failing test, then exit 1
                failed += 1
                print(f"FAIL {name}: {exc!r}")
    sys.exit(1 if failed else 0)
