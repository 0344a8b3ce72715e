"""The three workloads: what each op calls, and how each result is checked.

An op is one timed call into the package's public functions, including
materialising its result (``toPandas()`` for a DataFrame). The harness in
``run.py`` times ops; this module builds them and checks what they return.
Checks run after the measured window, so they never count in a timing.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import data

# catalog_sf0.1: overhead-bound. Two of ROADMAP direction 2's driver-gap
# entries (anti_join_customers, star_join_revenue), both reference pipelines
# (which run the `checks` quality gates), and bench-tagged relational and
# event entries of sub-second to two-second cost.
CATALOG_SF01 = (
    "anti_join_customers",
    "star_join_revenue",
    "grocery_pipeline_mart",
    "retail_pipeline_mart",
    "daily_sales_mart",
    "pricing_summary",
    "q3_shipping_priority",
    "topk_orders_per_priority",
    "events_hourly",
    "sessionize_users",
    "asof_click_attribution",
    "embedding_cosine_topk",
)
# catalog_sf1: the same query code on 10x the rows, where executors
# (scan, codegen, shuffle, the Arrow/Python boundary) do most of the work.
CATALOG_SF1 = (
    "pricing_summary",
    "q3_shipping_priority",
    "topk_orders_per_priority",
    "anti_join_customers",
    "embedding_cosine_topk",
)

CATALOG = {"catalog_sf0.1": (CATALOG_SF01, "sf0.1"), "catalog_sf1": (CATALOG_SF1, "sf1")}
WORKLOADS = (*CATALOG, "ann_stream_sf1")


@dataclass
class Op:
    """One op to time: ``call`` returns what the package returned;
    ``check`` (run later, untimed) returns None or why the result is wrong."""

    name: str
    kind: str  # "read" or "write"
    call: Callable[[], Any]
    rows_written: int = 0
    check: Callable[[Any], str | None] | None = None


@dataclass
class Pass:
    """The ops of one pass, plus what the seed chose for it."""

    ops: list[Op]
    choices: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Oracle checks: row count, sorted column names and an order-insensitive
# value hash of the canonical form that tests/oracle_harness.py compares.
# ---------------------------------------------------------------------------


def result_digest(harness, pdf: pd.DataFrame) -> dict:
    rows = ["\x1f".join(r) for r in harness.canon(pdf).itertuples(index=False, name=None)]
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": h}


def _oracle_conn(harness, sf_dir: str):
    """The harness's DuckDB views; a replicated (sf1) table is a directory of
    part files, which DuckDB reads through a glob."""
    import duckdb

    if all(os.path.isfile(os.path.join(sf_dir, f"{t}.parquet")) for t in harness.TABLES):
        con = harness.duckdb_conn(sf_dir)
    else:
        con = duckdb.connect()
        for t in harness.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def oracle_digest(
    harness, name: str, sql: str, sf: str, sf_dir: str, cache_dir: str, inputs: str
) -> dict:
    """DuckDB's answer to ``sql`` on ``sf_dir``, cached per (inputs, SQL)."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{inputs[:16]}", sf, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _oracle_conn(harness, sf_dir)
    try:
        digest = result_digest(harness, con.execute(sql).fetchdf())
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(digest, f)
    os.replace(path + ".tmp", path)
    return digest


# ---------------------------------------------------------------------------
# Catalog workloads
# ---------------------------------------------------------------------------


class CatalogWorkload:
    def __init__(self, entries: tuple[str, ...], sf: str, dirs, cache_dir, repo_root, inputs):
        from postgres_etl_pipeline_spark.queries import REGISTRY, queries

        queries()  # load the extension modules into REGISTRY
        self.entries, self.sf = entries, sf
        self.dirs, self.sf_dir = dirs, dirs[sf]
        self.cache_dir, self.inputs = cache_dir, inputs
        self.harness = data.load_repo_module(repo_root, os.path.join("tests", "oracle_harness.py"))
        self.registry = REGISTRY
        self.spark = None

    def start(self, spark, workdir: str) -> None:
        self.spark = spark

    def make_pass(self, seed: int, index: int, warm: bool = False) -> Pass:
        """A warm-up pass runs the same entries on sf0.01: the same plans and
        code paths, at a fraction of the cost."""
        order = list(self.entries)
        random.Random(f"{seed}:{index}").shuffle(order)
        sf = "sf0.01" if warm else self.sf
        return Pass([self._op(n, sf) for n in order], {"order": order})

    def _op(self, name: str, sf: str) -> Op:
        spec, sf_dir = self.registry[name], self.dirs[sf]

        def check(pdf) -> str | None:
            want = oracle_digest(
                self.harness, name, spec.oracle, sf, sf_dir, self.cache_dir, self.inputs
            )
            got = result_digest(self.harness, pdf)
            return None if got == want else f"{name}: got {got}, oracle {want}"

        return Op(name, "read", lambda: spec.fn(self.spark, sf_dir), check=check)

    def final_checks(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# ANN + streaming workload
# ---------------------------------------------------------------------------

K = 10
N_QUERIES = 10  # per search op
# IVF searches before and again after the drain, and IVFADC searches: the
# IVF searches are the majority, so the median search is an IVF one rather
# than falling between the two kinds
N_IVF_SEARCHES = 4
N_IVFPQ_SEARCHES = 1
WARM_SCALE = 0.2
N_FEED = 3000
N_TOMBSTONES = 100
N_BATCHES = 2
BUILD_KW = dict(n_centroids=16, kmeans_max_iter=5)
MAINTAIN_KW = dict(compact_target_bytes=1 << 30, gc_min_age_sec=0.0, **BUILD_KW)


def _ids_check(qids, allowed: set) -> Callable[[pd.DataFrame], str | None]:
    """k rows for every query, and every neighbour a live vector."""
    want = set(int(q) for q in qids)

    def check(pdf: pd.DataFrame) -> str | None:
        counts = pdf.groupby("query_id").size()
        if set(int(q) for q in counts.index) != want or (counts != K).any():
            return f"expected {K} rows for each of {len(want)} queries"
        bad = set(int(x) for x in pdf["neighbor_id"]) - allowed
        if bad:
            return f"{len(bad)} neighbours not live, e.g. {sorted(bad)[:5]}"
        return None

    return check


def _topk_key(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(r.query_id), int(r.rank), int(r.neighbor_id), round(float(r.cos_sim), 4))
        for r in pdf.itertuples(index=False)
    )


class AnnWorkload:
    """Per cycle: build a versioned IVF index on a seed-chosen share of the
    sf1 embeddings, search it through the root, drain inserts and tombstones
    through the streaming maintenance sink (with a maintenance tick every two
    micro-batches), search again, run one more maintenance tick, then build
    and search an IVFADC index on the live set."""

    sf = "sf1"

    def __init__(self, dirs):
        from postgres_etl_pipeline_spark.operators import similarity
        from postgres_etl_pipeline_spark.streaming import runner, sources

        self.S, self.runner, self.sources = similarity, runner, sources
        self.sf_dir = dirs["sf1"]
        self.spark = None
        self.corpus = pq.read_table(
            os.path.join(self.sf_dir, "embeddings.parquet")
        ).sort_by("vec_id")
        self.ids = self.corpus["vec_id"].to_numpy()
        self.last: dict | None = None

    def start(self, spark, workdir: str) -> None:
        from pyspark.sql import types as T

        self.spark, self.workdir = spark, workdir
        self.feed_schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
                T.StructField("op", T.StringType()),
            ]
        )

    def _rows(self, ids) -> pa.Table:
        return self.corpus.take(pa.array(np.searchsorted(self.ids, np.sort(ids))))

    def _feed_rows(self, ids, op: str) -> pa.Table:
        t = self._rows(ids)
        return t.append_column("op", pa.array([op] * len(t), pa.string()))

    def make_pass(self, seed: int, index: int, warm: bool = False) -> Pass:
        """A warm-up cycle runs the same ops on a fifth of the sizes, with one
        IVF search on each side of the drain."""
        rng = np.random.default_rng([seed, index])
        scale, n_ivf = (WARM_SCALE, 1) if warm else (1.0, N_IVF_SEARCHES)
        share = float(rng.uniform(0.45, 0.55)) * scale
        perm = rng.permutation(self.ids)
        n_build = int(share * len(perm))
        build, feed = perm[:n_build], perm[n_build : n_build + int(N_FEED * scale)]
        tomb = rng.choice(build, int(N_TOMBSTONES * scale), replace=False)
        n_searches = 2 * n_ivf + N_IVFPQ_SEARCHES
        qsets = rng.choice(self.ids, (n_searches, N_QUERIES), replace=False)
        live = np.setdiff1d(np.concatenate([build, feed]), tomb)

        d = os.path.join(self.workdir, f"cycle{index}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "feed"))
        for name, ids in (("build", build), ("live", live)):
            pq.write_table(self._rows(ids), os.path.join(d, f"{name}.parquet"))
        for i, q in enumerate(qsets):
            pq.write_table(self._rows(q), os.path.join(d, f"queries{i}.parquet"))
        # single-file micro-batches: inserts, with the tombstones spread over
        # the batches after the first
        ins, dels = np.array_split(feed, N_BATCHES), np.array_split(tomb, N_BATCHES - 1)
        for b in range(N_BATCHES):
            parts = [self._feed_rows(ins[b], "I")]
            if b > 0:
                parts.append(self._feed_rows(dels[b - 1], "D"))
            pq.write_table(pa.concat_tables(parts), os.path.join(d, "feed", f"b{b}.parquet"))

        spark, S = self.spark, self.S
        root, pq_path = os.path.join(d, "ivf"), os.path.join(d, "ivfpq")
        read = spark.read.parquet
        before, after = set(int(x) for x in build), set(int(x) for x in live)
        qn = iter(range(len(qsets)))

        def search(name, fn, allowed):
            i = next(qn)
            queries = read(os.path.join(d, f"queries{i}.parquet"))
            return Op(
                name, "read", lambda: fn(queries), check=_ids_check(qsets[i], allowed)
            )

        def ivf(allowed):
            return [
                search(
                    "search_ivf",
                    lambda q: S.ivf_index_topk(spark, root, q, k=K, n_probe=4),
                    allowed,
                )
                for _ in range(n_ivf)
            ]

        def drain():
            stream = self.sources.stream_parquet(
                spark, os.path.join(d, "feed"), self.feed_schema, max_files_per_trigger=1
            )
            self.runner.run_ivf_maintenance_sink(
                stream,
                root,
                op_col="op",
                checkpoint=os.path.join(d, "ckpt"),
                maintenance_every_n_batches=2,
                maintenance_kw=MAINTAIN_KW,
            )

        ops = [
            Op(
                "build_ivf",
                "write",
                lambda: S.build_ivf_index_versioned(
                    read(os.path.join(d, "build.parquet")), root, **BUILD_KW
                ),
                rows_written=len(build),
            ),
            *ivf(before),
            Op("drain", "write", drain, rows_written=len(feed) + len(tomb)),
            *ivf(after),
            Op("maintain", "write", lambda: S.maintain_index(spark, root, **MAINTAIN_KW)),
            Op(
                "build_ivfpq",
                "write",
                lambda: S.write_ivfpq_index(read(os.path.join(d, "live.parquet")), pq_path),
                rows_written=len(live),
            ),
            *[
                search(
                    "search_ivfpq",
                    lambda q: S.ivfpq_index_topk(spark, pq_path, q, k=K),
                    after,
                )
                for _ in range(N_IVFPQ_SEARCHES)
            ],
        ]
        self.last = {"dir": d, "root": root, "queries": f"queries{len(qsets) - 1}.parquet"}
        choices = {
            "build_share": round(share, 4),
            "build_rows": len(build),
            "feed_rows": len(feed),
            "tombstones": len(tomb),
            "live_rows": len(live),
            "query_ids": [sorted(int(q) for q in qs) for qs in qsets],
        }
        return Pass(ops, choices)

    def final_checks(self) -> list[str]:
        """Probe-all search of the last cycle's index equals exact search."""
        if not self.last:
            return []
        d, spark = self.last["dir"], self.spark
        queries = spark.read.parquet(os.path.join(d, self.last["queries"]))
        probe_all = self.S.ivf_index_topk(
            spark, self.last["root"], queries, k=K, n_probe=1_000_000
        ).toPandas()
        exact = self.S.brute_force_topk(
            spark.read.parquet(os.path.join(d, "live.parquet")), queries, k=K
        ).toPandas()
        if _topk_key(probe_all) != _topk_key(exact):
            return ["probe-all ivf_index_topk differs from brute_force_topk"]
        return []


def make(name: str, dirs: dict[str, str], cache_dir: str, repo_root: str, inputs: str):
    if name == "ann_stream_sf1":
        return AnnWorkload(dirs)
    entries, sf = CATALOG[name]
    return CatalogWorkload(entries, sf, dirs, cache_dir, repo_root, inputs)
