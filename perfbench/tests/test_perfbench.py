"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q

- the generators are deterministic;
- each output check passes on a correct result and fails on a
  corrupted one (a dropped row, a merged cluster, a surviving span, a
  wrong lookup, probabilities that do not sum to 1);
- every metric name the benchmark prints matches BENCHMARK.json;
- the stage-metrics fold (driver gap, inclusive layers) is right;
- the command fails, printing no result, without the program.

The check tests build the correct result from the generator's ground
truth, so they need no Spark session; ``test_workload_runs_on_spark``
runs both workloads once for real at tiny sizes.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, stagemetrics  # noqa: E402
from perfbench import workloads as W  # noqa: E402

TINY_CURATION = dict(
    n_background=12, n_chains=3, chain_len=3, doc_len=31,
    n_spans=2, span_len=12, span_copies=3,
)


def _tree_bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize(
    "write",
    [
        lambda d, s: gen.write_football(d, s, 300),
        lambda d, s: gen.write_warehouse(d, s, 300, 3, 2),
        lambda d, s: gen.write_curation(d, s, **TINY_CURATION),
    ],
    ids=["football", "warehouse", "curation"],
)
def test_generators_are_deterministic(tmp_path, write):
    write(str(tmp_path / "a"), 5)
    write(str(tmp_path / "b"), 5)
    write(str(tmp_path / "c"), 6)
    a, b, c = (_tree_bytes(tmp_path / x) for x in "abc")
    assert a == b
    assert a != c


def test_curation_truth_plants_what_it_claims():
    docs, truth = gen.curation_corpus(3, **TINY_CURATION)
    text = dict(docs)
    assert len(docs) == truth["docs"] == 12 + 3 * 3
    assert all(len(t.split()) == 31 for t in text.values())
    for s in truth["spans"]:
        assert all(s["text"] in text[d] for d in s["docs"])
    for chain in truth["chains"]:
        assert chain[0] in truth["survivors"]
        assert not set(chain[1:]) & set(truth["survivors"])


# ---------------------------------------------------------------------------
# output checks against ground truth
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def curation(tmp_path_factory):
    wl = W.CurationDedup(str(tmp_path_factory.mktemp("cur")))
    wl.SIZES = TINY_CURATION
    wl.generate(4)
    t = wl.truth
    labels = {d: d for d in t["survivors"]}
    pairs = []
    for chain in t["chains"]:
        labels.update({d: chain[0] for d in chain})
        pairs += list(zip(chain, chain[1:]))
    nodes = sorted(labels)
    ranks = dict(zip(nodes, W.pagerank_reference(nodes, pairs, wl.PR_ITERS)))
    hosts = {d for s in t["spans"] for d in s["docs"]}
    cleaned = {
        d: (t["doc_len"], t["span_len"] if d in hosts else 0, "w1 w2")
        for d in t["survivors"]
    }
    good = {"pairs": pairs, "labels": labels, "ranks": ranks, "cleaned": cleaned}
    return wl, good


def test_curation_check_accepts_the_truth(curation):
    wl, good = curation
    assert wl.check(good) == []


def _background(t):
    heads = {c[0] for c in t["chains"]}
    return next(d for d in t["survivors"] if d not in heads)


def _corrupt_merge(r, t):
    a, b = t["chains"][0][0], t["chains"][1][0]
    for d in t["chains"][1]:
        r["labels"][d] = a
    return b


@pytest.mark.parametrize(
    "corrupt",
    [
        _corrupt_merge,  # two clusters merged
        lambda r, t: r["labels"].pop(t["chains"][0][-1]),  # a row dropped
        lambda r, t: r["labels"].__setitem__(_background(t), t["chains"][0][0]),
        lambda r, t: r["cleaned"].pop(t["survivors"][0]),  # keep-set short
        lambda r, t: r["cleaned"].__setitem__(
            t["spans"][0]["docs"][0], (t["doc_len"], 0, t["spans"][0]["text"])
        ),  # span not removed
        lambda r, t: r["ranks"].__setitem__(t["survivors"][0], 0.5),
    ],
    ids=["merged-cluster", "dropped-row", "background-merged", "keep-set", "span-kept", "pagerank"],
)
def test_curation_check_rejects_corruption(curation, corrupt):
    wl, good = curation
    bad = copy.deepcopy(good)
    corrupt(bad, wl.truth)
    assert wl.check(bad)


@pytest.fixture(scope="module")
def etl(tmp_path_factory):
    wl = W.EtlStarLoad(str(tmp_path_factory.mktemp("etl")))
    wl.N_ROWS = 400
    wl.generate(9)
    t, e = wl.truth, wl.expect
    teams = [x for g in wl.groups for x in g]
    expected = {(a, b): 1.0 + (i % 7) / 10 for i, (a, b) in enumerate(
        (a, b) for a in teams for b in teams if a != b)}
    probs = W.simulate.tournament_win_probability(
        wl.groups, expected, n_sims=wl.N_SIMS, seed=wl.seed
    )
    good = {
        "agg": {
            "rows": t["rows"], "home": t["sum_home_score"], "away": t["sum_away_score"],
            "neutral": t["neutral_true"], "null_dates": 0, "teams": list(t["teams"]),
        },
        "committed": {
            "results": (wl.ERAS, t["rows"]), "fact": (1, t["rows"]),
            "date_dim": (1, t["distinct_dates"]), "game_dim": (1, t["distinct_games"]),
        },
        "lookups": list(e["lookups"]), "ranges": list(e["ranges"]),
        "by_tour": dict(e["by_tour"]), "top": list(e["top"]),
        "expected": expected, "probs": probs,
    }
    return wl, good


def test_duckdb_truth_agrees_with_generator(etl):
    wl, _ = etl
    by_tour = wl.expect["by_tour"]
    assert {k: n for k, (n, _) in by_tour.items()} == wl.truth["rows_per_tournament"]
    goals = sum(g for _, g in by_tour.values())
    assert goals == wl.truth["sum_home_score"] + wl.truth["sum_away_score"]


def test_etl_check_accepts_the_truth(etl):
    wl, good = etl
    assert wl.check(good) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: r["agg"].__setitem__("rows", r["agg"]["rows"] - 1),  # a row dropped
        lambda r: r["committed"].__setitem__("fact", (1, r["committed"]["fact"][1] - 1)),
        lambda r: r["committed"].__setitem__("results", (1, r["committed"]["results"][1])),
        lambda r: r["agg"]["teams"].__setitem__(0, "BRAZIL"),  # case not normalised
        lambda r: r["lookups"].__setitem__(0, (r["lookups"][0][0] + 1, r["lookups"][0][1])),
        lambda r: r["ranges"].__setitem__(0, (r["ranges"][0][0], r["ranges"][0][1] - 1)),
        lambda r: r["top"].reverse(),
        lambda r: r["by_tour"].popitem(),
        lambda r: r["expected"].popitem(),
        lambda r: r["probs"].__setitem__(next(iter(r["probs"])), 2.0),
    ],
    ids=[
        "dropped-row", "fact-short", "eras", "team-case", "lookup", "range",
        "top-k", "group-by", "rates", "probs",
    ],
)
def test_etl_check_rejects_corruption(etl, corrupt):
    wl, good = etl
    bad = copy.deepcopy(good)
    corrupt(bad)
    assert wl.check(bad)


def test_simulation_must_repeat(etl):
    wl, good = etl
    bad = copy.deepcopy(good)
    probs = dict(reversed(list(bad["probs"].items())))
    k = sorted(probs)
    if len(k) >= 2:  # move mass between two teams: sums to 1, not the seed's draw
        probs[k[0]] += 0.005
        probs[k[1]] -= 0.005
    bad["probs"] = probs
    assert wl.check(bad)


# ---------------------------------------------------------------------------
# metric names and the stage-metrics fold
# ---------------------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_layer_metrics_fold():
    sp = stagemetrics.Span
    job = lambda t0, t1, cpu: {  # noqa: E731
        "t0": t0, "t1": t1, "tasks": 2, "run_ms": 0, "cpu_ns": cpu,
        "shuffle_read_b": 1 << 20, "shuffle_write_b": 0, "spill_mem_b": 0, "spill_disk_b": 0,
    }
    outer = sp("dedup.cluster", 1, None, "g1", 0.0, 10.0, jobs=[job(1.0, 3.0, 1e9)])
    inner = sp("plans.materialize", 2, 1, "g2", 4.0, 6.0, jobs=[job(4.5, 5.5, 2e9)])
    m = stagemetrics.layer_metrics([outer, inner])
    assert m["dedup.cluster"]["jobs"] == 2  # inclusive of the nested span
    assert m["dedup.cluster"]["cpu_s"] == pytest.approx(3.0)
    assert m["dedup.cluster"]["driver_gap_s"] == pytest.approx(10.0 - 3.0)
    assert m["plans.materialize"]["driver_gap_s"] == pytest.approx(1.0)
    assert m["plans.materialize"]["shuffle_mb"] == pytest.approx(1.0)


def test_covered_merges_overlaps_and_clips():
    assert stagemetrics._covered([(0, 2), (1, 3), (5, 9)], 0.5, 6) == pytest.approx(3.5)


# ---------------------------------------------------------------------------
# the command
# ---------------------------------------------------------------------------


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_star_load",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.skipif(
    os.environ.get("PERFBENCH_SPARK_TESTS") != "1",
    reason="starts Spark; set PERFBENCH_SPARK_TESTS=1",
)
def test_workload_runs_on_spark(tmp_path):
    """Both workloads, tiny, on a real session: the checks pass."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from automated_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-test", master="local[2]")
    off = stagemetrics.Tracer(spark, enabled=False)
    etl = W.EtlStarLoad(str(tmp_path))
    etl.N_ROWS = 2000
    cur = W.CurationDedup(str(tmp_path))
    cur.SIZES = TINY_CURATION
    for wl in (etl, cur):
        wl.generate(1)
        assert wl.check(wl.run(spark, off)) == []
