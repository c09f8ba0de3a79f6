"""The benchmark's three workloads and their DuckDB correctness oracles.

A workload is a list of :class:`Op`. An op builds a DataFrame through the
engine's public functions and then computes it fully: through the engine's
own writer (``flights_etl``), or through Spark's ``noop`` sink in warm
passes and ``collect()`` in the cold pass (``dedup``, ``codec``), whose
rows are then checked against the query's registered DuckDB oracle.
"""

from __future__ import annotations

import csv
import functools
import hashlib
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

from analysis_of_flight_delay_data_by_mapreduce_spark.plans import flight_queries as fq
from analysis_of_flight_delay_data_by_mapreduce_spark.plans import synthetic
from analysis_of_flight_delay_data_by_mapreduce_spark.sources import (
    read_flight_csv,
    read_text_corpus,
    read_weblog,
    sinks,
)

#: dedup queries over the generated documents and embeddings tables.
DEDUP = ["dedup_minhash", "dedup_exact", "dedup_embedding"]
#: codec queries; each synthesises one media asset per document id.
CODEC = [
    "multimodal_jpeg_decode_check",
    "multimodal_png_decode_check",
    "multimodal_video_pixels_check",
]


@dataclass
class Op:
    name: str
    build: Callable  # (spark) -> DataFrame
    #: engine writer ``(df) -> None``; None computes through noop/collect.
    write: Callable | None = None
    #: output directory of ``write``, for the sinks layer.
    out_dir: str | None = None


# ---------------------------------------------------------------------------
# Result normalisation shared by every oracle comparison
# ---------------------------------------------------------------------------
def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.12g}"
    return str(v)


def table_hash(rows, cols: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash over name-sorted columns."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# flights_etl
# ---------------------------------------------------------------------------
_FLIGHT_CTE = """
  SELECT trim(reporting_airport) AS airport,
         trim(airline_name) AS airline,
         substr(trim(reporting_period), 1, 4) AS year,
         trim(arrival_departure) AS ad,
         CAST(trim(number_flights_matched) AS BIGINT) AS flights,
         CAST(trim(average_delay_mins) AS DOUBLE) AS delay,
         (CAST(trim(flts_31_to_60_mins_late_percent) AS DOUBLE)
          + CAST(trim(flts_61_to_180_mins_late_percent) AS DOUBLE)
          + CAST(trim(flts_181_to_360_mins_late_percent) AS DOUBLE)
          + CAST(trim(more_than_360_mins_late_percent) AS DOUBLE)) / 100.0 AS late_rate
  FROM read_csv('{csv}', header=true, all_varchar=true, delim=',', quote='"')
  WHERE trim(scheduled_charter) = 'S'
    AND CAST(trim(number_flights_matched) AS BIGINT) <> 0
"""

_LINES = "SELECT unnest(string_split(content, chr(10))) AS line FROM read_text('{path}')"

FLIGHT_ORACLES = {
    "etl_parquet": """
        SELECT count(*) AS n FROM read_csv('{csv}', header=true, all_varchar=true,
                                           delim=',', quote='"')
        WHERE reporting_airport IS NOT NULL
    """,
    "q1_delay": """
        WITH f AS ({flights})
        SELECT airport AS reporting_airport,
               CASE WHEN SUM(CASE WHEN ad='A' THEN flights ELSE 0 END) <> 0
                    THEN SUM(CASE WHEN ad='A' THEN CAST(ROUND(flights*delay) AS BIGINT) ELSE 0 END)
                         / CAST(SUM(CASE WHEN ad='A' THEN flights ELSE 0 END) AS DOUBLE)
               END AS avg_arrival_delay,
               CASE WHEN SUM(CASE WHEN ad<>'A' THEN flights ELSE 0 END) <> 0
                    THEN SUM(CASE WHEN ad<>'A' THEN CAST(ROUND(flights*delay) AS BIGINT) ELSE 0 END)
                         / CAST(SUM(CASE WHEN ad<>'A' THEN flights ELSE 0 END) AS DOUBLE)
               END AS avg_departure_delay
        FROM f GROUP BY airport
    """,
    "q2_late": """
        WITH f AS ({flights}),
        d AS (SELECT airline, year, flights,
                     CAST(ROUND(flights * late_rate) AS BIGINT) AS late
              FROM f WHERE ad = 'D')
        SELECT airline AS airline_name, year,
               SUM(late) / CAST(SUM(flights) AS DOUBLE) AS late_ratio
        FROM d GROUP BY airline, year
        HAVING SUM(flights) > 0 AND SUM(late) / CAST(SUM(flights) AS DOUBLE) >= 0.5
    """,
    "q3_wordcount": """
        WITH l AS ({corpus}),
        t AS (SELECT unnest(regexp_split_to_array(line, '\\s+')) AS word FROM l)
        SELECT word, count(*) AS cnt FROM t WHERE word <> '' GROUP BY word
    """,
    "q4_weblog1": """
        WITH l AS ({weblog}),
        t AS (SELECT regexp_split_to_array(trim(line), '\\s+') AS a
              FROM l WHERE trim(line) <> '')
        SELECT a[1] AS username, a[3] AS url, count(*) AS n
        FROM t GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    "q5_weblog2": """
        WITH l AS ({weblog}),
        t AS (SELECT regexp_split_to_array(trim(line), '\\s+') AS a
              FROM l WHERE trim(line) <> '')
        SELECT a[1] AS username, a[3] AS url, count(*) AS n,
               count(DISTINCT a[2]) AS n_distinct
        FROM t GROUP BY 1, 2 HAVING count(*) > count(DISTINCT a[2])
    """,
}


class FlightsEtl:
    """The paper's pipeline on its native text inputs, writing every result.

    CSV → partitioned Parquet (``write_parquet``), then Q1/Q2 on that
    Parquet and Q3–Q5 on the text and weblog files, each written with
    ``write_tsv``. The ETL op runs first in every pass; the seed shuffles
    the order of the five queries after it.
    """

    writes = True

    def __init__(self, inputs: str, out: str, seed: int):
        self.csv = os.path.join(inputs, "flights", "flights.csv")
        self.weblog = os.path.join(inputs, "weblog", "weblog.txt")
        self.corpus = os.path.join(inputs, "corpus", "corpus.txt")
        self.out, self.seed = out, seed
        self.parquet = os.path.join(out, "flights_parquet")
        self._etl = Op(
            "etl_parquet",
            lambda spark: read_flight_csv(spark, self.csv),
            lambda df: sinks.write_parquet(
                df, self.parquet, partition_by=["arrival_departure"]
            ),
            self.parquet,
        )
        readers = {
            "q1_delay": lambda spark: fq.q1_delay(spark.read.parquet(self.parquet)),
            "q2_late": lambda spark: fq.q2_late(spark.read.parquet(self.parquet)),
            "q3_wordcount": lambda spark: fq.q3_wordcount(read_text_corpus(spark, self.corpus)),
            "q4_weblog1": lambda spark: fq.q4_weblog1(read_weblog(spark, self.weblog)),
            "q5_weblog2": lambda spark: fq.q5_weblog2(read_weblog(spark, self.weblog)),
        }
        self._queries = [self._tsv_op(n, b) for n, b in readers.items()]

    def _tsv_op(self, name: str, build: Callable) -> Op:
        path = os.path.join(self.out, name)
        return Op(name, build, lambda df: sinks.write_tsv(df, path), path)

    def ops(self, pass_no: int | None) -> list[Op]:
        """Cold pass (``None``) in declaration order; warm pass ``k`` in the
        seed's shuffled order of the queries after the ETL op."""
        qs = list(self._queries)
        if pass_no is not None:
            random.Random(self.seed * 1_000_003 + pass_no).shuffle(qs)
        return [self._etl, *qs]

    def output_rows(self, collected: dict) -> dict[str, int]:
        return {n: rows for n, (rows, _) in self._expected.items()}

    def _oracle(self, name: str):
        sql = FLIGHT_ORACLES[name].format(
            csv=self.csv,
            flights=_FLIGHT_CTE.format(csv=self.csv),
            corpus=_LINES.format(path=self.corpus),
            weblog=_LINES.format(path=self.weblog),
        )
        with duckdb.connect() as con:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            return res.fetchall(), cols

    @functools.cached_property
    def _expected(self) -> dict[str, tuple[int, str]]:
        """Row count and hash of each op's oracle result."""
        out = {}
        for name in FLIGHT_ORACLES:
            rows, cols = self._oracle(name)
            out[name] = (rows[0][0], "") if name == "etl_parquet" else table_hash(rows, cols)
        return out

    def check(self, spark, collected: dict) -> dict[str, bool]:
        """Compare what the last pass wrote with DuckDB over the same inputs.
        The TSV files carry no header: column names and types come from
        building each query again (no action runs)."""
        n = spark.read.parquet(self.parquet).count()
        ok = {"etl_parquet": n == self._expected["etl_parquet"][0]}
        for op in self._queries:
            fields = op.build(spark).schema.fields
            rows = _read_tsv(op.out_dir, [f.dataType.typeName() for f in fields])
            got = table_hash(rows, [f.name for f in fields])
            ok[op.name] = got == self._expected[op.name]
        return ok


def _read_tsv(path: str, types: list[str]) -> list[tuple]:
    cast = {"double": float, "float": float, "long": int, "integer": int}
    rows = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), newline="") as f:
            for rec in csv.reader(f, delimiter="\t"):
                rows.append(
                    tuple(
                        None if v == "" and t != "string" else cast.get(t, str)(v)
                        for v, t in zip(rec, types)
                    )
                )
    return rows


# ---------------------------------------------------------------------------
# dedup / codec: registered queries over the generated Parquet tables
# ---------------------------------------------------------------------------
class RegisteredQueries:
    """Registered engine queries, each checked against its DuckDB oracle."""

    writes = False

    def __init__(self, queries: list[str], inputs: str, seed: int):
        self.queries, self.seed = queries, seed
        self.tables = os.path.join(inputs, "tables")
        self._ops = [
            Op(q, (lambda spark, q=q: synthetic.QUERIES[q](spark, self.tables)))
            for q in queries
        ]

    def ops(self, pass_no: int | None) -> list[Op]:
        """Cold pass (``None``) in declaration order; warm pass ``k`` in the
        seed's shuffled order, never starting with the query that ended
        the pass before it. A query run twice in a row finds its own
        ``scoped_persist`` blocks still cached, which halves its time; this
        workload measures a session whose consecutive queries differ."""
        if pass_no is None:
            return list(self._ops)
        last = self._ops[-1]  # the cold pass ends here
        for k in range(pass_no + 1):
            ops = list(self._ops)
            random.Random(self.seed * 1_000_003 + k).shuffle(ops)
            if ops[0] is last and len(ops) > 1:
                ops[0], ops[1] = ops[1], ops[0]
            last = ops[-1]
        return ops

    def output_rows(self, collected: dict) -> dict[str, int]:
        return {q: len(rows) for q, (rows, _) in collected.items()}

    def check(self, spark, collected: dict) -> dict[str, bool]:
        ok = {}
        with duckdb.connect() as con:
            for t in sorted(os.listdir(self.tables)):
                view = t.removesuffix(".parquet")
                path = os.path.join(self.tables, t)
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                rows, cols = collected[q]
                res = con.execute(synthetic.render_oracle(q, self.tables))
                want = table_hash(res.fetchall(), [d[0] for d in res.description])
                ok[q] = table_hash(rows, cols) == want and sorted(cols) == sorted(
                    d[0] for d in res.description
                )
        return ok


WORKLOADS = {
    "flights_etl": lambda inputs, out, seed: FlightsEtl(inputs, out, seed),
    "dedup": lambda inputs, out, seed: RegisteredQueries(DEDUP, inputs, seed),
    "codec": lambda inputs, out, seed: RegisteredQueries(CODEC, inputs, seed),
}
