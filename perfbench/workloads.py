"""The benchmark's workloads: fixed unit sets, how one pass runs them, and
how each unit's output is checked.

A *query* unit is one declared query run cold (memo cleared): the builder
call, then the action that returns its rows to the driver.  Its rows are
compared cell for cell with the query's DuckDB oracle after the pass.
A *batch* unit is one alert in one pass of ``engine.run_all``; its published
snapshot rows are compared with the alert's DuckDB oracle, and the same-day
re-run must leave every snapshot and the current hist partition row-identical
to the first pass.

Each unit set is a fixed subset of the workload's surface, sized so one run
(JVM start, set-up with its warm-up pass, and the timed passes) takes under
a minute on a 4-core host.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass

import pandas as pd
from pandas.api.types import is_numeric_dtype

#: 3 of the 16 production alerts, one per family table (IC1A of the shared
#: ``mgp`` family, RO, COMP), so three families publish concurrently and the
#: re-run merges three hists; PRCR, the full batch's critical path, alone
#: takes longer than a whole pass of these three
BATCH_ALERTS = ("IC1A", "RO", "COMP")

#: the trainer chain: the k-means coarse quantizer, and the IVFADC residual
#: index that trains it and a PQ codebook (two of the ROADMAP's hot spots)
ANN = ("kmeans_assign", "simsearch_topk_ivfpq_residual")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries" | "batch"
    units: tuple[str, ...]


WORKLOADS = {
    "nightly_batch": Workload("nightly_batch", "batch", BATCH_ALERTS),
    "ann_index": Workload("ann_index", "queries", ANN),
}


def seeded_order(units: tuple[str, ...], seed: int, pass_index: int) -> tuple[str, ...]:
    """The unit order of one pass: a permutation drawn from ``--seed`` and
    the pass index, so a run's passes average over several orders."""
    order = list(units)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return tuple(order)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Cell-exact, order-insensitive comparison (the repo's verify rule:
    floats compare bit-equal, everything else by its string form)."""
    from tools.verify_local import compare as verify_compare

    return [p for p in verify_compare("", got, want) if not p.startswith("dtype note")]


def duck_tables(con, sf_dir: str) -> None:
    from datagen import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def oracle(con):
    """The DuckDB oracle of ``con`` as a function of its SQL, each SQL run
    once per run (every pass is compared with the same oracle rows)."""
    cache: dict[str, pd.DataFrame] = {}

    def rows(sql: str) -> pd.DataFrame:
        if sql not in cache:
            cache[sql] = con.execute(sql).df()
        return cache[sql].copy()

    return rows


def check_query(want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    problems = compare(got, want)
    if not problems and len(got) == 0:
        problems = ["empty result: the oracle comparison is vacuous"]
    return problems


def published(warehouse: str, families: list[str], month: str) -> dict[str, pd.DataFrame]:
    """Every family's snapshot and its current hist partition, read from the
    warehouse files (no Spark job, so the pass's job counters stay its own)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("dt_partition", pa.string())]), flavor="hive")
    out = {}
    for fam in families:
        base = os.path.join(warehouse, "alertas")
        out[fam] = ds.dataset(os.path.join(base, f"{fam}.parquet")).to_table().to_pandas()
        hist = ds.dataset(os.path.join(base, f"hist_{fam}.parquet"), partitioning=part)
        out[f"hist_{fam}"] = hist.to_table(
            filter=ds.field("dt_partition") == month).to_pandas()
    return out


def check_alert(want: pd.DataFrame, sigla: str, snapshot: pd.DataFrame) -> list[str]:
    """The alert's published rows against its DuckDB oracle rows, on the
    oracle's columns that publication keeps (publication re-keys ``alrt_key``)."""
    cols = [c for c in want.columns if c in snapshot.columns and c != "alrt_key"]
    # an alert may publish several siglas under its own prefix (PRCR1..PRCR4)
    got = snapshot[snapshot["alrt_sigla"].str.startswith(sigla)][cols].reset_index(drop=True)
    want = want[cols].copy()
    for c in cols:  # publication casts to the family schema's types
        if str(got[c].dtype) == str(want[c].dtype):
            continue
        if is_numeric_dtype(got[c]) and is_numeric_dtype(want[c]):
            got[c], want[c] = got[c].astype("float64"), want[c].astype("float64")
        else:
            got[c] = got[c].astype(str).where(got[c].notna(), None)
            want[c] = want[c].astype(str).where(want[c].notna(), None)
    problems = compare(got, want)
    if not problems and len(got) == 0:
        problems = ["empty result: the oracle comparison is vacuous"]
    return problems


def fixture_warehouse(fixture_dir: str, root: str):
    """A fresh warehouse whose input schemas link to the MPRJ fixtures."""
    os.makedirs(os.path.join(root, "alertas"))
    for schema in ("exadata", "exadata_aux", "opengeo", "alertas_compras"):
        os.symlink(os.path.join(fixture_dir, schema), os.path.join(root, schema))
    return root
