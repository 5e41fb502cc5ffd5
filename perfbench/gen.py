"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs plus a ``truth.json`` holding what the
output checks compare against.  The same seed gives byte-identical
files: every random draw comes from one ``numpy.random.default_rng``
stream and nothing depends on the clock, the host or dict ordering.

Sizes are fixed per workload and only the content varies with the seed,
so the amount of work (rows, documents, doubling rounds, propagation
rounds) is the same on every seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

# ---------------------------------------------------------------------------
# football results (FIXTURES.md A1 quirks)
# ---------------------------------------------------------------------------

# Canonical names are initcap-stable, so the cleaned value of any case
# variant is the canonical spelling and lower() identifies a team.
TEAMS = [
    "Argentina", "Australia", "Austria", "Belgium", "Bolivia", "Brazil",
    "Bulgaria", "Cameroon", "Canada", "Chile", "China", "Colombia",
    "Costa Rica", "Croatia", "Czech Republic", "Denmark", "Ecuador",
    "Egypt", "England", "Finland", "France", "Germany", "Ghana", "Greece",
    "Hungary", "Iceland", "Iran", "Ireland", "Italy", "Jamaica", "Japan",
    "Mexico", "Morocco", "Netherlands", "New Zealand", "Nigeria", "Norway",
    "Paraguay", "Peru", "Poland", "Portugal", "Romania", "Russia",
    "Saudi Arabia", "Scotland", "Senegal", "Serbia", "South Korea", "Spain",
    "Sweden", "Switzerland", "Tunisia", "Turkey", "Ukraine", "United States",
    "Uruguay", "Venezuela", "Wales",
]
CITIES = [
    "Amsterdam", "Athens", "Berlin", "Bogota", "Buenos Aires", "Cairo",
    "Dublin", "Glasgow", "Lima", "Lisbon", "London", "Madrid", "Mexico City",
    "Montevideo", "Moscow", "Oslo", "Paris", "Prague", "Rio De Janeiro",
    "Rome", "Santiago", "Seoul", "Tokyo", "Vienna", "Warsaw", "Zurich",
]
# (name, weight): skewed like the real file (Friendly ~41%, WC quals ~17%,
# World Cup ~2%), with Cup/Euro names and names carrying neither.
TOURNAMENTS = [
    ("Friendly", 41.0),
    ("FIFA World Cup qualification", 17.0),
    ("UEFA Euro qualification", 7.0),
    ("African Cup of Nations qualification", 5.0),
    ("Copa América", 4.0),
    ("AFC Asian Cup qualification", 4.0),
    ("FIFA World Cup", 2.0),
    ("UEFA Euro", 2.0),
    ("British Championship", 3.0),
    ("Nordic Championship", 2.0),
    ("Gold Cup", 3.0),
    ("Merdeka Tournament", 2.0),
    ("UEFA Nations League", 3.0),
    ("Island Games", 5.0),
]
FOOTBALL_HEADER = (
    "date,home_team,away_team,home_score,away_score,tournament,city,country,neutral"
)
EPOCH = dt.date(1970, 1, 1)
FIRST_DAY = (dt.date(1872, 1, 1) - EPOCH).days
LAST_DAY = (dt.date(2020, 12, 31) - EPOCH).days


def _spellings(names: list[str], idx: np.ndarray, rng: np.random.Generator):
    """One spelling per index: 60% canonical, the rest upper, lower or a
    per-letter random case, all of which initcap(lower()) restores."""
    style = rng.choice(4, size=idx.size, p=[0.6, 0.15, 0.15, 0.1])
    flips = rng.random((idx.size, 24)) < 0.5
    out = []
    for i, k in enumerate(style):
        s = names[idx[i]]
        if k == 1:
            s = s.upper()
        elif k == 2:
            s = s.lower()
        elif k == 3:
            s = "".join(
                c.upper() if flips[i, j % 24] else c.lower() for j, c in enumerate(s)
            )
        out.append(s)
    return out


def football_rows(seed: int, n_rows: int, n_teams: int = len(TEAMS)):
    """Rows of a quirky football-results CSV and the cleaned truth per
    row: (csv_lines, clean) where clean holds numpy arrays of the values
    the cleaning pass must produce."""
    rng = np.random.default_rng(seed)
    teams = TEAMS[:n_teams]
    days = np.sort(rng.integers(FIRST_DAY, LAST_DAY + 1, n_rows))
    home_i = rng.integers(0, len(teams), n_rows)
    away_i = (home_i + rng.integers(1, len(teams), n_rows)) % len(teams)
    home_s = _spellings(teams, home_i, rng)
    away_s = _spellings(teams, away_i, rng)
    hs = rng.poisson(1.5, n_rows).clip(0, 20)
    as_ = rng.poisson(1.1, n_rows).clip(0, 20)
    hs_empty = rng.random(n_rows) < 0.01
    as_empty = rng.random(n_rows) < 0.01
    names, weights = zip(*TOURNAMENTS)
    p = np.array(weights) / sum(weights)
    tour_i = rng.choice(len(names), size=n_rows, p=p)
    city_i = rng.integers(0, len(CITIES), n_rows)
    country_i = rng.integers(0, len(teams), n_rows)
    neutral = rng.random(n_rows) < 0.25
    neutral_empty = rng.random(n_rows) < 0.01
    iso = rng.random(n_rows) < 0.003  # yyyy-MM-dd minority format
    lines = [FOOTBALL_HEADER]
    for i in range(n_rows):
        d = EPOCH + dt.timedelta(days=int(days[i]))
        ds = d.isoformat() if iso[i] else f"{d.day:02d}-{d.month:02d}-{d.year:04d}"
        lines.append(
            ",".join(
                (
                    ds,
                    home_s[i],
                    away_s[i],
                    "" if hs_empty[i] else str(hs[i]),
                    "" if as_empty[i] else str(as_[i]),
                    names[tour_i[i]],
                    CITIES[city_i[i]],
                    teams[country_i[i]],
                    "" if neutral_empty[i] else ("TRUE" if neutral[i] else "FALSE"),
                )
            )
        )
    clean = {
        "day": days,
        "home": home_i,
        "away": away_i,
        "home_score": np.where(hs_empty, -1, hs),
        "away_score": np.where(as_empty, -1, as_),
        "tournament": tour_i,
        "city": city_i,
        "country": country_i,
        "neutral": neutral & ~neutral_empty,
    }
    return lines, clean, teams


def _football_truth(clean: dict, teams: list[str]) -> dict:
    names = [t for t, _ in TOURNAMENTS]
    n = len(clean["day"])
    games = set(
        zip(
            clean["home"].tolist(), clean["away"].tolist(),
            clean["tournament"].tolist(), clean["city"].tolist(),
            clean["country"].tolist(), clean["neutral"].tolist(),
        )
    )
    per_tour = np.bincount(clean["tournament"], minlength=len(names))
    return {
        "rows": n,
        "distinct_dates": int(np.unique(clean["day"]).size),
        "distinct_games": len(games),
        "sum_home_score": int(clean["home_score"].sum()),
        "sum_away_score": int(clean["away_score"].sum()),
        "neutral_true": int(clean["neutral"].sum()),
        "rows_per_tournament": {
            names[i]: int(c) for i, c in enumerate(per_tour) if c
        },
        "teams": teams,
    }


def write_football(out_dir: str, seed: int, n_rows: int) -> dict:
    """football.csv + truth.json under ``out_dir``; returns the truth."""
    os.makedirs(out_dir, exist_ok=True)
    lines, clean, teams = football_rows(seed, n_rows)
    path = os.path.join(out_dir, "football.csv")
    with open(path, "w", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    truth = _football_truth(clean, teams)
    truth["input_bytes"] = os.path.getsize(path)
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


# ---------------------------------------------------------------------------
# curation corpus (planted near-duplicate chains and verbatim spans)
# ---------------------------------------------------------------------------


def curation_corpus(
    seed: int,
    n_background: int,
    n_chains: int,
    chain_len: int,
    doc_len: int,
    n_spans: int,
    span_len: int,
    span_copies: int,
    vocab: int = 50_000,
):
    """(docs, truth): ``docs`` is a list of (doc_id, text).

    - Background documents are ``doc_len`` uniform draws from a large
      vocabulary, so no two share a shingle or a long substring by
      chance.
    - A chain starts from a random document; each next member replaces
      one token at a fresh position at least 3 apart from every earlier
      replacement and 2 from the ends, so a member ``d`` steps away
      differs in exactly ``k * d`` of its k-token shingles (k <= 3).
    - A span is ``span_len`` fresh tokens written over ``span_copies``
      distinct background documents, each copy with a left and right
      neighbour unlike every other copy's, so its longest repeat is
      exactly ``span_len`` tokens.
    Ids are a seeded permutation, so which chain member holds the
    minimum id (the survivor) varies with the seed."""
    rng = np.random.default_rng(seed)
    n_docs = n_background + n_chains * chain_len
    ids = rng.permutation(np.arange(1, 4 * n_docs + 1))[:n_docs]
    toks = rng.integers(0, vocab, (n_docs, doc_len))
    chains = []
    for c in range(n_chains):
        base = n_background + c * chain_len
        used: list[int] = []
        for m in range(1, chain_len):
            while True:
                p = int(rng.integers(2, doc_len - 2))
                if all(abs(p - q) >= 3 for q in used):
                    break
            used.append(p)
            toks[base + m] = toks[base + m - 1]
            toks[base + m, p] = (toks[base + m, p] + 1 + rng.integers(0, vocab - 1)) % vocab
        chains.append(sorted(int(ids[base + m]) for m in range(chain_len)))
    hosts = rng.choice(n_background, size=(n_spans, span_copies), replace=False)
    spans = []
    for s in range(n_spans):
        phrase = rng.integers(0, vocab, span_len)
        starts = []
        for copy, h in enumerate(hosts[s]):
            st = int(rng.integers(1, doc_len - span_len - 1))
            toks[h, st : st + span_len] = phrase
            # neighbours unique per copy: no copy's match extends
            toks[h, st - 1] = vocab + 2 * (s * span_copies + copy)
            toks[h, st + span_len] = vocab + 2 * (s * span_copies + copy) + 1
            starts.append(st)
        spans.append(
            {
                "docs": [int(ids[h]) for h in hosts[s]],
                "starts": starts,
                "text": " ".join(f"w{t}" for t in phrase),
            }
        )
    docs = [
        (int(ids[i]), " ".join(f"w{t}" for t in toks[i])) for i in range(n_docs)
    ]
    survivors = sorted(
        [int(ids[i]) for i in range(n_background)] + [c[0] for c in chains]
    )
    truth = {
        "docs": n_docs,
        "tokens": n_docs * doc_len,
        "doc_len": doc_len,
        "chains": chains,
        "spans": spans,
        "span_len": span_len,
        "survivors": survivors,
    }
    return docs, truth


def write_curation(out_dir: str, seed: int, **sizes) -> dict:
    """docs.csv (doc_id,text) + truth.json; returns the truth."""
    os.makedirs(out_dir, exist_ok=True)
    docs, truth = curation_corpus(seed, **sizes)
    path = os.path.join(out_dir, "docs.csv")
    with open(path, "w", newline="\n") as fh:
        fh.write("doc_id,text\n")
        fh.writelines(f"{i},{t}\n" for i, t in docs)
    truth["input_bytes"] = os.path.getsize(path)
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


# ---------------------------------------------------------------------------
# warehouse probes (same CSV shape as the ETL workload)
# ---------------------------------------------------------------------------


def write_warehouse(
    out_dir: str, seed: int, n_rows: int, n_lookups: int, n_ranges: int
) -> dict:
    """football.csv + truth.json for the load-then-analyse workload: the
    CSV of ``write_football`` plus seeded probes — ``n_lookups`` point
    lookups of one home team in one year, ``n_ranges`` date-range
    scans, and a 32-team tournament field in 8 groups of 4.  Expected
    answers come from DuckDB over the CSV, not from here."""
    truth = write_football(out_dir, seed, n_rows)
    rng = np.random.default_rng(seed + 1)
    teams = truth["teams"]
    truth["lookups"] = [
        [teams[i], int(y)]
        for i, y in zip(
            rng.integers(0, len(teams), n_lookups), rng.integers(1880, 2020, n_lookups)
        )
    ]
    ranges = []
    for _ in range(n_ranges):
        lo = int(rng.integers(FIRST_DAY, LAST_DAY - 3650))
        hi = lo + int(rng.integers(365, 3650))
        ranges.append(
            [
                (EPOCH + dt.timedelta(days=lo)).isoformat(),
                (EPOCH + dt.timedelta(days=hi)).isoformat(),
            ]
        )
    truth["ranges"] = ranges
    field = [teams[i] for i in rng.permutation(len(teams))[:32]]
    truth["groups"] = [field[i : i + 4] for i in range(0, 32, 4)]
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True, indent=1)
        fh.write("\n")
