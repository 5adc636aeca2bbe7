"""The two workloads: their inputs, operations and result checks.

A workload is a fixed list of operations. One pass issues every operation
once, in order; every pass of every run issues the same list. The first
pass of a run is checked exactly (registry queries against their DuckDB
oracle, the star schema against the generator's counts) and later passes
are checked by row count against what the first pass established.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pandas as pd

from tools import parity
from udacitydatawarehouseprj_spark import pipeline
from udacitydatawarehouseprj_spark import queries as Q
from udacitydatawarehouseprj_spark import session as S

import datagen

#: Six of the sixteen corpus queries first proposed are left out, for the
#: run-time budget: pagerank_similarity_graph, whose DuckDB oracle alone
#: takes about two minutes on a 4-vCPU box, and the five slowest of the
#: rest, dedup_simhash_portable, ensemble_dedup_consensus,
#: embedding_near_dup, ann_cosine_topk and rrf_hybrid_fusion (1.3-3.5 s
#: each on the cold pass).
CORPUS_QUERIES = (
    "dedup_minhash_lsh", "dedup_near_dup_clusters", "dedup_keep_best_quality",
    "cluster_size_histogram", "dedup_ngram_jaccard", "dedup_ngram_containment",
    "bm25_topk", "text_tfidf", "text_quality_score", "text_token_stats",
)

STREAM_QUERY = "streaming_hourly_sink_readback"

STAR_TABLES = ("fct_song_plays", "dim_users", "dim_songs", "dim_artists",
               "dim_time_dimensions")
#: Where ``sparkify_etl`` writes the star schema, under the run's work dir.
STAR_DIR = "star"


class CheckFailed(Exception):
    """An operation returned a wrong answer."""


@dataclass
class Op:
    """One operation. ``plan`` builds the result (for a registry query:
    the registry function, which may already launch jobs); ``action``
    consumes it; ``check(result, first)`` raises CheckFailed on a wrong
    answer. ``is_query`` marks the read queries whose latency is sampled."""

    name: str
    plan: Callable[[object], object]
    action: Callable[[object], object]
    check: Callable[[object, bool], None]
    is_query: bool = True


@dataclass
class Workload:
    name: str
    input_kind: str
    input_size: dict
    #: tables registered as temp views at set-up
    views: tuple[str, ...]
    #: ``make_ops(inputs, work_dir)``: the operations of one pass
    make_ops: Callable[[datagen.Inputs, str], list[Op]]


# --- exact comparison against DuckDB ----------------------------------------

class Oracle:
    """DuckDB over the same generated parquet files."""

    def __init__(self, input_dir: str, tables: tuple[str, ...]) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in tables:
            path = S.table_path(input_dir, t)
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.sql = Q.oracle_sql()

    def answer(self, query: str) -> pd.DataFrame:
        return self.con.sql(self.sql[query]).fetchdf()


def query_op(name: str, input_dir: str, oracle: Oracle, expected: dict) -> Op:
    fn = Q.queries()[name]

    def check(pdf: pd.DataFrame, first: bool) -> None:
        if first:
            errs = parity.compare(name, pdf, oracle.answer(name))
            if errs:
                raise CheckFailed(f"{name}: {'; '.join(errs)}")
            expected[name] = len(pdf)
        elif len(pdf) != expected.get(name):
            raise CheckFailed(f"{name}: {len(pdf)} rows, first pass had {expected.get(name)}")

    return Op(name, lambda spark: fn(spark, input_dir), lambda df: df.toPandas(), check)


def registry_ops(names: tuple[str, ...]):
    def make(inputs: datagen.Inputs, work_dir: str) -> list[Op]:
        oracle = Oracle(inputs.root, tuple(inputs.manifest["tables"]))
        expected: dict[str, int] = {}
        return [query_op(n, inputs.root, oracle, expected) for n in names]

    return make


# --- Sparkify ETL -----------------------------------------------------------

def sparkify_ops(inputs: datagen.Inputs, work_dir: str) -> list[Op]:
    """One nightly cycle: the star-schema load, the notebook's per-table
    validation COUNTs, and the incremental (streaming) load."""
    want = inputs.manifest["expected_rows"]
    out_dir = os.path.join(work_dir, STAR_DIR)
    # run_etl reads the log directory it is given, not its subdirectories:
    # pass the directory that holds the daily files
    events_dir = inputs.path("log_data", "2018", "11")
    songs_dir = inputs.path("song_data")
    paths = {t: os.path.join(out_dir, t) for t in STAR_TABLES}

    def check_etl(result: dict, first: bool) -> None:
        if sorted(result) != sorted(STAR_TABLES):
            raise CheckFailed(f"run_etl wrote {sorted(result)}")

    def count_op(table: str, round_: int) -> Op:
        def check(result: dict, first: bool) -> None:
            if result[table] != want[table]:
                raise CheckFailed(
                    f"{table}: {result[table]} rows, generator expects {want[table]}")

        return Op(f"count{round_}:{table}",
                  lambda spark: pipeline.validation_counts(spark, {table: paths[table]}),
                  lambda counts: counts, check)

    stream = query_op(STREAM_QUERY, inputs.root,
                      Oracle(inputs.root, ("events",)), {})
    stream.is_query = False
    ops = [Op("run_etl",
              lambda spark: pipeline.run_etl(spark, events_dir, songs_dir, out_dir),
              lambda result: result, check_etl, is_query=False)]
    # The COUNTs run once before and once after the streaming load, so the
    # latency median has twice the samples, half of them away from the
    # write that run_etl has just finished.
    ops += [count_op(t, 1) for t in STAR_TABLES]
    ops.append(stream)
    ops += [count_op(t, 2) for t in STAR_TABLES]
    return ops


def reset_work_dir(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)


WORKLOADS = {
    "sparkify_etl": Workload(
        name="sparkify_etl", input_kind="sparkify",
        input_size={"lines": 30_000, "songs": 500, "stream_events": 10_000},
        views=("events",), make_ops=sparkify_ops),
    "corpus_session": Workload(
        name="corpus_session", input_kind="corpus", input_size={"docs": 500},
        views=("documents",), make_ops=registry_ops(CORPUS_QUERIES)),
}
