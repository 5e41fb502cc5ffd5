"""The benchmark workloads: generate, run, check.

Every call into the program goes through a public function of
``automated_etl_pipeline_spark`` and sits inside a ``Tracer.span`` named
after the layer (the module) it calls.  Lazy results are forced at the
layer boundary in traced and untraced runs alike — a cache plus count,
an eager checkpoint or a collect — so the untraced and traced runs do
the same Spark work and differ only by the tracing itself.

A workload object lives for one benchmark process:

- ``generate(seed)`` writes the inputs and ground truth (not timed);
- ``run(spark, tracer)`` is one run and returns its result;
- ``check(result)`` returns the list of failed output checks (empty
  when the result is correct); it runs inside the timed region;
- ``extra_layer_metrics(spark)`` measures, once and after the runs,
  per-layer figures that no run exposes.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.dedup import cluster, minhash, suffix_array
from automated_etl_pipeline_spark.etl import football
from automated_etl_pipeline_spark.graph import pagerank
from automated_etl_pipeline_spark.io import manifest
from automated_etl_pipeline_spark.ml import poisson, simulate
from automated_etl_pipeline_spark.operators.star import join_star
from automated_etl_pipeline_spark.pipeline.runner import Pipeline, Stage

from perfbench import gen
from perfbench.stagemetrics import MB

# How each star table is committed: zone maps on date, and a Bloom
# bitmap on the home team of the denormalised results for point lookups.
COMMIT_SPEC = {
    "results": {"stats_cols": ["date"], "bloom_cols": ["home_team"]},
    "fact": {},
    "date_dim": {"stats_cols": ["date"]},
    "game_dim": {},
}


def _parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def commit_table(tracer, parent, df, root: str, run_id: str, spec: dict) -> int:
    """One ``io.manifest.commit_append`` under an ``io.manifest.write``
    span, which records the files and bytes the commit added."""
    with tracer.span("io.manifest.write", parent) as sp:
        version = manifest.commit_append(df, root, run_id, **spec)
        if sp is not None:
            new = set(manifest.manifest_files(root, version))
            if version > 1:
                new -= set(manifest.manifest_files(root, version - 1))
            sp.counters["files"] = len(new)
            sp.counters["output_mb"] = sum(os.path.getsize(f) for f in new) / MB
    return version


def clean_and_split(spark, tracer, csv_path: str) -> dict:
    """``etl.football.clean_results`` (forced: cached and counted) then
    ``build_football_star``; returns the four star tables, the cleaned
    ``results`` cached."""
    cfg = football.FootballEtlConfig(input_path=csv_path, tournament_filter=None)
    with tracer.span("etl.football") as sp:
        results = football.clean_results(spark, cfg).cache()
        results.count()
        if sp is not None:
            sp.counters["input_mb"] = os.path.getsize(csv_path) / MB
    with tracer.span("operators.star"):
        # its two surrogate-key checks compute both dims; the fan-out
        # commits then re-derive dims and fact from the cached results
        star = football.build_football_star(results)
    return star


class Workload:
    name = ""

    def __init__(self, work_dir: str):
        self.work = os.path.join(work_dir, self.name)
        self.inputs = os.path.join(self.work, "inputs")
        self.truth: dict = {}
        self.rows = 0

    def extra_layer_metrics(self, spark) -> dict:
        """Per-layer figures measured once after the runs, outside them."""
        return {}


# ---------------------------------------------------------------------------


class EtlStarLoad(Workload):
    """The reference pipeline end to end: load, then analyse.

    Load: ``etl.football.clean_results`` -> ``build_football_star`` -> a
    ``pipeline.runner`` fan-out of ``io.manifest.commit_append``, one
    stage per star table (results appended in date eras, so the table
    is multi-file and its zone maps can prune).  Analyse, over the
    tables just committed: seeded ``read_table_pruned`` point lookups
    and date-range scans, a group-by and top-k over ``join_star``, a
    Poisson GLM fit and a Monte-Carlo tournament forecast."""

    name = "etl_star_load"
    N_ROWS = 20_000
    ERAS = 2
    N_LOOKUPS, N_RANGES = 4, 1
    N_SIMS = 200
    TRAIN_FROM = 1990
    TOP_K = 5

    def generate(self, seed: int) -> None:
        self.seed = seed
        self.truth = gen.write_warehouse(
            self.inputs, seed, self.N_ROWS, self.N_LOOKUPS, self.N_RANGES
        )
        self.csv = os.path.join(self.inputs, "football.csv")
        self.rows = self.truth["rows"]
        self.groups = self.truth["groups"]
        self.expect = duckdb_truth(
            self.csv, self.truth["teams"], self.truth["lookups"],
            self.truth["ranges"], self.TOP_K,
        )
        self._sims: dict = {}
        self._runs = 0

    def run(self, spark, tracer):
        # the previous run's warehouse goes first: disk holds one run's output
        out = os.path.join(self.work, "warehouse")
        shutil.rmtree(out, ignore_errors=True)
        tables = clean_and_split(spark, tracer, self.csv)
        self._load(spark, tracer, tables, out)
        loaded = self._loaded_figures(tables, out)
        tables["results"].unpersist()
        return {**loaded, **self._analyse(spark, tracer, out)}

    def _load(self, spark, tracer, tables: dict, out: str) -> None:
        year = F.year("date")
        bounds = np.linspace(1872, 2021, self.ERAS + 1).astype(int)
        batches = {name: [tables[name]] for name in COMMIT_SPEC}
        batches["results"] = [
            tables["results"].filter((year >= int(lo)) & (year < int(hi)))
            for lo, hi in zip(bounds[:-1], bounds[1:])
        ]
        run_id = f"load-{self._runs}"
        self._runs += 1
        with tracer.span("pipeline.runner") as group:

            def stage_fn(name):
                return lambda _spark, _ctx: [
                    commit_table(
                        tracer, group, df, os.path.join(out, name),
                        f"{run_id}-{i}", COMMIT_SPEC[name],
                    )
                    for i, df in enumerate(batches[name])
                ]

            stages = [Stage(name, stage_fn(name), retries=0) for name in COMMIT_SPEC]
            pipe = Pipeline([stages], max_parallel=min(4, spark.sparkContext.defaultParallelism))
            t0 = time.time()
            res = pipe.run(spark, {"run_id": run_id})
            if group is not None:
                group.counters["overlap"] = sum(r.elapsed_sec for r in res) / (
                    time.time() - t0
                )

    def _loaded_figures(self, tables: dict, out: str) -> dict:
        agg = (
            tables["results"]
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("home_score").alias("home"),
                F.sum("away_score").alias("away"),
                F.sum(F.col("neutral").cast("int")).alias("neutral"),
                F.sum(F.col("date").isNull().cast("int")).alias("null_dates"),
                F.collect_set("home_team").alias("teams"),
            )
            .first()
            .asDict()
        )
        committed = {
            name: (
                manifest.current_version(os.path.join(out, name)),
                _parquet_rows(manifest.manifest_files(os.path.join(out, name))),
            )
            for name in COMMIT_SPEC
        }
        return {"agg": agg, "committed": committed}

    def _analyse(self, spark, tracer, out: str) -> dict:
        results_root = os.path.join(out, "results")
        lookups = []
        for team, y in self.truth["lookups"]:
            with tracer.span("io.manifest.read") as sp:
                t0 = time.time()
                df, total, scanned = manifest.read_table_pruned(
                    spark, results_root,
                    predicates={"date": (f"{y}-01-01", f"{y}-12-31")},
                    eq={"home_team": team},
                )
                row = (
                    df.filter((F.col("home_team") == team) & (F.year("date") == y))
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("home_score").alias("goals"))
                    .first()
                )
                lookups.append((row["n"], row["goals"] or 0))
                if sp is not None:
                    sp.counters["lookup_ms"] = (time.time() - t0) * 1000
                    sp.counters["files_total"] = total
                    sp.counters["files_scanned"] = scanned
        ranges = []
        for lo, hi in self.truth["ranges"]:
            with tracer.span("io.manifest.read") as sp:
                df, total, scanned = manifest.read_table_pruned(
                    spark, results_root, predicates={"date": (lo, hi)}
                )
                row = (
                    df.filter(F.col("date").between(lo, hi))
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("home_score") + F.col("away_score")).alias("goals"),
                    )
                    .first()
                )
                ranges.append((row["n"], row["goals"] or 0))
                if sp is not None:
                    sp.counters["files_total"] = total
                    sp.counters["files_scanned"] = scanned
        with tracer.span("operators.star"):
            read = lambda name: manifest.read_table(spark, os.path.join(out, name))  # noqa: E731
            joined = join_star(
                read("fact"),
                {"date": (read("date_dim"), "date_id"), "game": (read("game_dim"), "game_id")},
            )
            by_tour = {
                r["tournament"]: (r["n"], r["goals"])
                for r in joined.groupBy("tournament")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("home_score") + F.col("away_score")).alias("goals"),
                )
                .collect()
            }
            scored = joined.select(
                F.col("home_team").alias("team"), F.greatest("home_score", F.lit(0)).alias("g")
            ).unionByName(
                joined.select(
                    F.col("away_team").alias("team"), F.greatest("away_score", F.lit(0)).alias("g")
                )
            )
            top = [
                (r["team"], r["goals"])
                for r in scored.groupBy("team")
                .agg(F.sum("g").alias("goals"))
                .orderBy(F.desc("goals"), F.asc("team"))
                .limit(self.TOP_K)
                .collect()
            ]
        field = [t for g in self.groups for t in g]
        with tracer.span("ml.poisson"):
            recent = joined.filter(
                (F.year("date") >= self.TRAIN_FROM)
                & F.col("home_team").isin(field)
                & F.col("away_team").isin(field)
            )
            train = (
                poisson.team_strength_training_frame(recent)
                .filter(F.col("goals") >= 0)
                .cache()  # the IRLS passes re-read it
            )
            model = poisson.fit_poisson_rates(train, ["team", "opponent"], "goals", weight_col="weight")
            pairs = spark.createDataFrame(
                [(a, b) for a in field for b in field if a != b], "team string, opponent string"
            )
            expected = {
                (r["team"], r["opponent"]): r["expected"]
                for r in model.predict(pairs).select("team", "opponent", "expected").collect()
            }
            train.unpersist()
        with tracer.span("ml.simulate") as sp:
            t0 = time.time()
            probs = simulate.tournament_win_probability(
                self.groups, expected, n_sims=self.N_SIMS, seed=self.seed
            )
            if sp is not None:
                sp.counters["sims_per_s"] = self.N_SIMS / (time.time() - t0)
        return {
            "lookups": lookups, "ranges": ranges, "by_tour": by_tour, "top": top,
            "expected": expected, "probs": probs,
        }

    def check(self, r) -> list[str]:
        t, e, errs = self.truth, self.expect, []
        a = r["agg"]
        want = {
            "rows": t["rows"], "home": t["sum_home_score"], "away": t["sum_away_score"],
            "neutral": t["neutral_true"], "null_dates": 0,
        }
        errs += [f"results.{k}: {a[k]} != {v}" for k, v in want.items() if a[k] != v]
        if sorted(a["teams"]) != sorted(t["teams"]):
            errs.append("cleaned team names differ from the canonical set")
        expect_rows = {
            "results": (self.ERAS, t["rows"]), "fact": (1, t["rows"]),
            "date_dim": (1, t["distinct_dates"]), "game_dim": (1, t["distinct_games"]),
        }
        for name, got in r["committed"].items():
            if got != expect_rows[name]:
                errs.append(f"{name}: committed (version, rows) {got}, want {expect_rows[name]}")
        if r["lookups"] != e["lookups"]:
            errs.append(f"point lookups differ: {r['lookups']} != {e['lookups']}")
        if r["ranges"] != e["ranges"]:
            errs.append(f"range scans differ: {r['ranges']} != {e['ranges']}")
        if r["by_tour"] != e["by_tour"]:
            errs.append("per-tournament aggregate over the star differs")
        if r["top"] != e["top"]:
            errs.append(f"top-{self.TOP_K} scorers differ: {r['top']} != {e['top']}")
        rates = np.array(list(r["expected"].values()))
        if rates.size != 32 * 31 or not np.all(np.isfinite(rates) & (rates > 0)):
            return errs + ["expected-goal rates missing, non-finite or non-positive"]
        probs = r["probs"]
        if abs(sum(probs.values()) - 1.0) > 1e-9:
            errs.append(f"win probabilities sum to {sum(probs.values())!r}")
        key = json.dumps(sorted([list(k), v] for k, v in r["expected"].items()))
        again = self._sims.get(key)
        if again is None:
            again = simulate.tournament_win_probability(
                self.groups, r["expected"], n_sims=self.N_SIMS, seed=self.seed
            )
            self._sims[key] = again
        if probs != again:
            errs.append("simulation does not repeat exactly for its seed")
        return errs


# ---------------------------------------------------------------------------


class CurationDedup(Workload):
    """MinHash pairs -> connected components + keep-set -> PageRank over
    the pair graph -> suffix-array span removal on the survivors."""

    name = "curation_dedup"
    SIZES = dict(
        n_background=120, n_chains=20, chain_len=3, doc_len=31,
        n_spans=8, span_len=12, span_copies=3,
    )
    MIN_LEN = 8
    # 2-token shingles: one replaced token changes 2 of a document's 30
    # shingles, so neighbours in a chain sit at Jaccard 28/32 = 0.875,
    # which 64 permutations in 16 bands catch with p > 1 - 1e-6, and
    # members two steps apart (26/34) fall below the 0.8 threshold
    NUM_PERM, BANDS, SHINGLE_K = 64, 16, 2
    PR_ITERS = 3

    def generate(self, seed: int) -> None:
        self.truth = gen.write_curation(self.inputs, seed, **self.SIZES)
        self.csv = os.path.join(self.inputs, "docs.csv")
        self.rows = self.truth["docs"]

    def _docs(self, spark):
        return (
            spark.read.schema("doc_id long, text string")
            .option("header", True)
            .csv(self.csv)
            .localCheckpoint()
        )

    def run(self, spark, tracer):
        docs = self._docs(spark)
        with tracer.span("dedup.minhash"):
            pairs = minhash.near_duplicate_pairs(
                docs, num_perm=self.NUM_PERM, bands=self.BANDS, shingle_k=self.SHINGLE_K
            ).localCheckpoint()
            pair_rows = pairs.collect()
        with tracer.span("dedup.cluster"):
            comp = cluster.connected_components(
                docs, pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
            )
            labels = {r["doc_id"]: r["component"] for r in comp.collect()}
            keep = comp.filter(F.col("doc_id") == F.col("component")).select("doc_id")
        with tracer.span("graph.pagerank"):
            edges = pairs.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ).unionByName(
                pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
            )
            ranks = {
                r["doc_id"]: r["pagerank"]
                for r in pagerank.pagerank(
                    docs.select("doc_id"), edges, iters=self.PR_ITERS
                ).collect()
            }
        survivors = docs.join(keep, "doc_id", "left_semi").localCheckpoint()
        with tracer.span("dedup.suffix_array"):
            cleaned = suffix_array.remove_duplicate_spans(survivors, self.MIN_LEN).collect()
        return {
            "pairs": [(r["doc_a"], r["doc_b"]) for r in pair_rows],
            "labels": labels,
            "ranks": ranks,
            "cleaned": {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"]) for r in cleaned},
        }

    def check(self, r) -> list[str]:
        t, errs = self.truth, []
        labels = r["labels"]
        if len(labels) != t["docs"]:
            errs.append(f"{len(labels)} labelled docs, want {t['docs']}")
        in_chain = {}
        for ci, chain in enumerate(t["chains"]):
            comps = {labels.get(d) for d in chain}
            if comps != {chain[0]}:
                errs.append(f"chain {ci} not recovered as one cluster: {sorted(map(str, comps))}")
            in_chain.update({d: ci for d in chain})
        merged = [d for d, c in labels.items() if d not in in_chain and c != d]
        if merged:
            errs.append(f"{len(merged)} background docs merged into a cluster")
        kept = sorted(r["cleaned"])
        if kept != t["survivors"]:
            errs.append(f"keep-set has {len(kept)} docs, want {len(t['survivors'])}")
        hosts = {d for s in t["spans"] for d in s["docs"]}
        for d, (n_tok, n_rem, text) in r["cleaned"].items():
            want = t["span_len"] if d in hosts else 0
            if n_tok != t["doc_len"] or n_rem != want:
                errs.append(f"doc {d}: removed {n_rem} of {n_tok} tokens, want {want} of {t['doc_len']}")
                break
        for s in t["spans"]:
            if any(s["text"] in r["cleaned"].get(d, ("", "", s["text"]))[2] for d in s["docs"]):
                errs.append("a planted span survived removal")
                break
        nodes = sorted(set(t["survivors"]).union(*t["chains"]))
        want_pr = pagerank_reference(nodes, r["pairs"], self.PR_ITERS)
        got = np.array([r["ranks"].get(d, np.nan) for d in nodes])
        if not np.allclose(got, want_pr, rtol=1e-9, atol=1e-12):
            errs.append("pagerank differs from the power-iteration reference")
        return errs

    def extra_layer_metrics(self, spark) -> dict:
        """Candidates per verified pair need the LSH candidate count,
        which near_duplicate_pairs does not expose: count them once,
        outside the timed runs."""
        docs = self._docs(spark)
        opts = dict(num_perm=self.NUM_PERM, bands=self.BANDS, shingle_k=self.SHINGLE_K)
        cands = minhash.candidate_pairs(docs, **opts).count()
        verified = minhash.near_duplicate_pairs(docs, **opts).count()
        return {"dedup.minhash.verified_per_candidate": verified / max(cands, 1)}


def pagerank_reference(nodes: list[int], pairs, iters: int, d: float = 0.85):
    """The graph.pagerank recurrence over the symmetrised pair graph, in
    float64: pr' = (1-d)/N + d * sum(pr[u] / deg[u]) over edges u->v."""
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[a] for a, b in pairs] + [idx[b] for a, b in pairs], dtype=np.int64)
    dst = np.array([idx[b] for a, b in pairs] + [idx[a] for a, b in pairs], dtype=np.int64)
    deg = np.bincount(src, minlength=n).astype(float)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        m = np.zeros(n)
        np.add.at(m, dst, pr[src] / deg[src])
        pr = (1 - d) / n + d * m
    return pr


# ---------------------------------------------------------------------------


def duckdb_truth(csv_path: str, teams, lookups, ranges, top_k: int) -> dict:
    """Expected warehouse answers, computed by DuckDB straight from the
    generated CSV with the cleaning rules spelled out in SQL: first
    matching date format wins, empty scores become -1, team names
    compare case-insensitively (the cleaned names are initcap-canonical)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        CREATE TABLE m AS
        SELECT COALESCE(try_strptime(date, '%Y-%m-%d'), try_strptime(date, '%d-%m-%Y'))::DATE AS d,
               home_team, away_team, tournament,
               COALESCE(TRY_CAST(home_score AS INTEGER), -1) AS hs,
               COALESCE(TRY_CAST(away_score AS INTEGER), -1) AS aws
        FROM read_csv('{csv_path}', header = true, all_varchar = true)
        """
    )
    out: dict = {"lookups": [], "ranges": []}
    for team, y in lookups:
        n, g = con.execute(
            "SELECT count(*), COALESCE(sum(hs), 0) FROM m"
            " WHERE lower(home_team) = lower(?) AND year(d) = ?",
            [team, y],
        ).fetchone()
        out["lookups"].append((int(n), int(g)))
    for lo, hi in ranges:
        n, g = con.execute(
            "SELECT count(*), COALESCE(sum(hs + aws), 0) FROM m"
            " WHERE d BETWEEN ?::DATE AND ?::DATE",
            [lo, hi],
        ).fetchone()
        out["ranges"].append((int(n), int(g)))
    out["by_tour"] = {
        t: (int(n), int(g))
        for t, n, g in con.execute(
            "SELECT tournament, count(*), sum(hs + aws) FROM m GROUP BY tournament"
        ).fetchall()
    }
    out["top"] = [
        (t, int(g))
        for t, g in con.execute(
            f"""
            SELECT c.team, sum(s.g) AS goals FROM (
              SELECT lower(home_team) AS k, greatest(hs, 0) AS g FROM m
              UNION ALL SELECT lower(away_team), greatest(aws, 0) FROM m
            ) s JOIN (SELECT unnest(?::VARCHAR[]) AS team) c ON lower(c.team) = s.k
            GROUP BY c.team ORDER BY goals DESC, c.team LIMIT {top_k}
            """,
            [teams],
        ).fetchall()
    ]
    con.close()
    return out


WORKLOADS = {w.name: w for w in (EtlStarLoad, CurationDedup)}
