"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:

- ``flights/flights.csv``: UK-CAA punctuality rows in the dialect that
  ``sources.read_flight_csv`` reads (header, blank lines, space-padded
  numerics, quoted airline names with embedded commas, charter rows,
  zero-flight rows, an airport with departures only);
- ``weblog/weblog.txt``: whitespace-separated ``user date url`` triples with
  runs of spaces and tabs between fields;
- ``corpus/corpus.txt``: text lines with repeated words, punctuation and
  empty lines;
- ``tables/{documents,embeddings}.parquet``: the synthetic tables the
  dedup and codec queries scan, in the schema and value distribution of
  the synthetic test tables (TESTDATA.md) at sf0.01.

The same seed gives byte-identical files. A seed's inputs are built once,
into a temporary directory renamed into place, so a run never sees a half
written set and never times the generator.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes. They are stated in BENCHMARK.json's workload notes and
#: recorded in every artifact; changing them changes every metric.
SIZES = {
    "flight_rows": 20_000,
    "weblog_lines": 20_000,
    "corpus_lines": 5_000,
    "documents": 500,
    "embeddings": 500,
}

FLIGHT_HEADER = (
    "run_date,reporting_period,reporting_airport,origin_destination_country,"
    "origin_destination,airline_name,arrival_departure,scheduled_charter,"
    "number_flights_matched,actual_flights_unmatched,"
    "early_to_15_mins_late_percent,flts_16_to_30_mins_late_percent,"
    "flts_31_to_60_mins_late_percent,flts_61_to_180_mins_late_percent,"
    "flts_181_to_360_mins_late_percent,more_than_360_mins_late_percent,"
    "average_delay_mins,planned_flights_unmatched,"
    "previous_year_month_flights_matched,"
    "previous_year_month_early_to_15_mins_late_percent,"
    "previous_year_month_average_delay"
)

_AIRPORTS = [f"AIRPORT {i:02d}" for i in range(24)]
#: Reports departures only, so its arrival mean is NULL.
_DEPARTURES_ONLY = "OUTSTATION"
_AIRLINES = [f"AIRLINE {chr(65 + i)}" for i in range(26)] + [
    '"AIR, QUOTED"',
    '"WINGS, LTD"',
    '"JET, ONE"',
]
_COUNTRIES = ["SPAIN", "FRANCE", "GERMANY", "ITALY", "IRELAND", "USA"]
_WORDS = (
    "spark line column order small sort fast value scan batch part vector "
    "query agg table hash slow filter customer stream key group window merge "
    "data big join row the a"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def inputs_dir(root: str, seed: int) -> str:
    """Build (once) and return the input directory for ``seed``."""
    final = os.path.join(root, f"seed-{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("flights", "weblog", "corpus", "tables"):
        os.makedirs(os.path.join(tmp, sub))
    rng = np.random.default_rng(seed)
    _flights(rng, os.path.join(tmp, "flights", "flights.csv"))
    _weblog(rng, os.path.join(tmp, "weblog", "weblog.txt"))
    _corpus(rng, os.path.join(tmp, "corpus", "corpus.txt"))
    _tables(rng, os.path.join(tmp, "tables"))
    try:
        os.rename(tmp, final)
    except OSError:
        # Another process built the same seed first; its copy is identical.
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _flights(rng: np.random.Generator, path: str) -> None:
    n = SIZES["flight_rows"]
    year = rng.integers(2011, 2018, n)
    month = rng.integers(1, 13, n)
    airport = rng.integers(0, len(_AIRPORTS), n)
    arrival = rng.random(n) < 0.5
    airline = rng.integers(0, len(_AIRLINES), n)
    charter = rng.random(n) < 0.08
    flights = np.where(rng.random(n) < 0.05, 0, rng.integers(1, 400, n))
    # Late buckets skew by airline so some (airline, year) pairs sit above
    # the 50 % late threshold and most below it.
    late_scale = np.where(airline % 7 == 0, 30.0, 14.0)
    late = np.round(rng.uniform(0, 1, (4, n)) * late_scale, 1)
    b16 = np.round(rng.uniform(0, 10, n), 1)
    early = np.round(np.maximum(0.0, 100.0 - b16 - late.sum(axis=0)), 1)
    delay = np.round(rng.uniform(0, 60, n), 2)
    country = rng.integers(0, len(_COUNTRIES), n)
    city = rng.integers(0, 90, n)
    unmatched = rng.integers(0, 3, n)
    prev_flights = rng.integers(0, 400, n)
    prev_early = np.round(rng.uniform(40, 100, n), 1)
    prev_delay = np.round(rng.uniform(0, 40, n), 1)
    lines = [FLIGHT_HEADER]
    for i in range(n):
        if i % 997 == 500:
            lines.append("")  # blank line inside the file
        if i % 50 == 0:
            ap, flag = _DEPARTURES_ONLY, "D"
        else:
            ap, flag = _AIRPORTS[airport[i]], "A" if arrival[i] else "D"
        lines.append(
            f"05-Apr-2011 13:31,{year[i]}{month[i]:02d},{ap},{_COUNTRIES[country[i]]},"
            f"CITY {city[i]},{_AIRLINES[airline[i]]},{flag},{'C' if charter[i] else 'S'},"
            f" {flights[i]} , {unmatched[i]} , {early[i]} , {b16[i]} , {late[0, i]} ,"
            f" {late[1, i]} , {late[2, i]} , {late[3, i]} , {delay[i]} , 0 ,"
            f" {prev_flights[i]} , {prev_early[i]} , {prev_delay[i]} "
        )
    lines.append("")  # trailing blank line
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _weblog(rng: np.random.Generator, path: str) -> None:
    n = SIZES["weblog_lines"]
    seps = [" ", "  ", "\t", " \t "]
    user = rng.integers(0, 800, n)
    day = rng.integers(1, 31, n)
    page = rng.integers(0, 60, n)
    sep = rng.integers(0, len(seps), (2, n))
    blank = rng.random(n) < 0.01
    lines = []
    for i in range(n):
        lines.append(
            f"user{user[i]}{seps[sep[0, i]]}2017-11-{day[i]:02d}{seps[sep[1, i]]}/page/{page[i]}.html"
        )
        if blank[i]:
            lines.append("")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _corpus(rng: np.random.Generator, path: str) -> None:
    n = SIZES["corpus_lines"]
    words = _WORDS + ["data,", "spark.", "Spark", "(join)", "row;"]
    lengths = rng.integers(3, 25, n)
    blank = rng.random(n) < 0.03
    toks = rng.integers(0, len(words), int(lengths.sum()))
    wide = rng.random(int(lengths.sum())) < 0.15
    lines, at = [], 0
    for i in range(n):
        k = lengths[i]
        if blank[i]:
            lines.append("")
        else:
            lines.append(
                words[toks[at]]
                + "".join(("   " if wide[j] else " ") + words[toks[j]] for j in range(at + 1, at + k))
            )
        at += k
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _tables(rng: np.random.Generator, out: str) -> None:
    # documents: word soup over a 30-word vocabulary; exactly one doc in
    # twenty is an earlier original's text plus " dup" (the near-duplicates
    # dedup finds), and every fifth of those repeats an earlier " dup" doc
    # verbatim (the exact duplicates). Lengths and language counts are fixed
    # multisets in seeded order, so every seed gives the dedup queries the
    # same amount of work.
    nd = SIZES["documents"]
    lengths = rng.permutation(np.linspace(10, 100, nd).round().astype(int))
    dups = sorted(rng.choice(np.arange(20, nd), nd // 20, replace=False).tolist())
    exact = set(dups[5::5])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(nd):
        if i in exact:
            earlier = [d for d in dups if d < i and d not in exact]
            texts.append(texts[earlier[int(rng.integers(0, len(earlier)))]])
        elif i in dups:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), lengths[i])))
    counts = np.floor(np.array(_LANG_P) * nd).astype(int)
    counts[0] += nd - counts.sum()
    langs = rng.permutation(np.repeat(np.arange(len(_LANGS)), counts))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[j] for j in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    # embeddings: unit-norm 64-d float32 vectors with a 0..9 label.
    ne = SIZES["embeddings"]
    vec = rng.standard_normal((ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
