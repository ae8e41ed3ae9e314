"""Correctness checks, run after the timed phase.

Search results are compared with the single-node ``Bm25Oracle``: doc
ids exact, scores within ``atol=1e-9`` and, for hits, the oracle's
``conv_id``.  Ingest results are checked against the benchmark's own
model of which conversation holds which doc id and which conversations
were deleted when.  Index files are read directly with pyarrow, never
through the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

ATOL = 1e-9


class SearchOracle:
    """Expected top-k for the benchmark's query shapes."""

    def __init__(self, turns: pd.DataFrame):
        self.oracle = Bm25Oracle(turns)
        self.doc_ts = self.oracle.docs["doc_ts"]
        self._memo: dict = {}

    def expected(self, q) -> pd.DataFrame:
        if q not in self._memo:
            self._memo[q] = self._expected(q)
        return self._memo[q]

    def _expected(self, q) -> pd.DataFrame:
        o = self.oracle
        text = q.text if q.kind != "bool" else " ".join(q.must + q.should)
        full = o.top_k(text, k=o.n_docs)
        keep = np.ones(len(full), dtype=bool)
        ids = full["doc_id"].to_numpy()
        if q.kind == "bool":
            for i, d in enumerate(ids):
                tf = o.tfs[d]
                keep[i] = all(t in tf for t in q.must) and not any(
                    t in tf for t in q.must_not)
        if q.ts_min is not None:
            ts = self.doc_ts.iloc[ids].to_numpy()
            keep &= (ts >= np.datetime64(q.ts_min)) & (ts <= np.datetime64(q.ts_max))
        return full[keep].head(q.k).reset_index(drop=True)

    def n_docs(self) -> int:
        return self.oracle.n_docs

    def df(self) -> dict:
        return dict(self.oracle.df)


def same_result(got: dict, want: pd.DataFrame, with_conv: bool) -> bool:
    if list(got["doc_ids"]) != [int(d) for d in want["doc_id"]]:
        return False
    if len(want) and not np.allclose(
        np.asarray(got["score"], dtype=np.float64),
        want["score"].to_numpy(dtype=np.float64), rtol=0, atol=ATOL,
    ):
        return False
    return not with_conv or list(got["conv_id"]) == list(want["conv_id"])


# --------------------------------------------------------- index files


def read_docs(index: str) -> pd.DataFrame:
    return pads.dataset(os.path.join(index, "docs"), format="parquet",
                        partitioning="hive").to_table(
        columns=["doc_id", "conv_id"]).to_pandas()


def read_tombstones(index: str) -> set:
    path = os.path.join(index, "deletes")
    if not os.path.isdir(path):
        return set()
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id"])
    return set(int(d) for d in t.column("doc_id").to_pylist())


def read_df(index: str) -> dict:
    t = pads.dataset(os.path.join(index, "term_stats"),
                     format="parquet").to_table(columns=["term", "df"])
    return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))


def live_conv_ids(index: str) -> set:
    docs = read_docs(index)
    dead = read_tombstones(index)
    return set(docs.loc[~docs["doc_id"].isin(dead), "conv_id"])


def doc_order(turns: pd.DataFrame) -> list:
    """conv ids in doc-id order: (first turn ts, conv_id), the order the
    engine assigns ids in, within a build and within one append."""
    first = turns.groupby("conv_id", sort=False)["ts"].min().reset_index()
    return list(first.sort_values(["ts", "conv_id"], kind="stable")["conv_id"])
