"""Benchmark inputs: the checked-in sf0.01 and sf0.1 tables and the 10x sf1
replica of sf0.1.

``perfbench/inputs/sf0.01`` and ``perfbench/inputs/sf0.1`` are copies of the
repository's test tables at those scales (sf0.01 only feeds the catalog
warm-up pass). sf1 is built from the sf0.1 copy by
``scripts/make_scale_data.py`` (imported, with its source directory pointed
at the copy), which replicates every keyed table ten times with consistent
key offsets. The sf1 build is cached per checkout under a digest of the
checked-in files, and the row counts of the scale a workload reads are
checked on every run.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import shutil
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
INPUTS = {sf: os.path.join(HERE, "inputs", sf) for sf in ("sf0.01", "sf0.1")}
SF01_DIR = INPUTS["sf0.1"]

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# Row counts checked before any op runs. sf1 replicates every table except
# the two fixed-size dimensions.
EXPECTED_ROWS = {
    "sf0.1": dict(SF01_ROWS),
    "sf1": {t: n if t in ("region", "nation") else 10 * n for t, n in SF01_ROWS.items()},
}


def load_repo_module(repo_root: str, relpath: str):
    """Import a repository file that is not in a package, by path."""
    path = os.path.join(repo_root, relpath)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def inputs_digest() -> str:
    """sha256 over the checked-in tables, in scale and name order: keys
    every cache built from them."""
    h = hashlib.sha256()
    for sf, d in sorted(INPUTS.items()):
        for t in sorted(SF01_ROWS):
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _build_sf1(repo_root: str, out_dir: str) -> None:
    msd = load_repo_module(repo_root, os.path.join("scripts", "make_scale_data.py"))
    msd.SRC = SF01_DIR
    argv = sys.argv
    sys.argv = [msd.__file__, "10", out_dir, "prefix"]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            msd.main()
    finally:
        sys.argv = argv


def row_counts(sf_dir: str) -> dict[str, int]:
    """Row count of every table under ``sf_dir``, from the parquet footers."""
    return {
        t: pq.ParquetDataset(os.path.join(sf_dir, f"{t}.parquet")).read(
            columns=[]
        ).num_rows
        for t in SF01_ROWS
    }


def verify(sf_dir: str, sf: str) -> None:
    got = row_counts(sf_dir)
    if got != EXPECTED_ROWS[sf]:
        raise RuntimeError(f"{sf_dir}: row counts {got} != {EXPECTED_ROWS[sf]}")


def ensure_inputs(repo_root: str, cache_dir: str, digest: str) -> dict[str, str]:
    """Build sf1 once per inputs digest; return the directory of each scale.

    sf1 is written into a temporary sibling and renamed into place, so an
    interrupted run leaves no half-written scale behind.
    """
    sf1 = os.path.join(cache_dir, f"sf1-{digest[:16]}")
    if not os.path.isdir(sf1):
        tmp = sf1 + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(cache_dir, exist_ok=True)
        _build_sf1(repo_root, tmp)
        os.rename(tmp, sf1)
    return {**INPUTS, "sf1": sf1}
