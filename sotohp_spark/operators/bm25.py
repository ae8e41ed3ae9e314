"""Okapi BM25 scoring math (k1=1.2, b=0.75), shared by the engine,
the block-max metadata builder, and the test oracle.

The reference delegates scoring to Elasticsearch/Lucene (its default
similarity is BM25 with these parameters); this module defines our
engine's canonical contract:

    idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))        # Lucene idf, always > 0
    tfn(d,t) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(d) = sum over query terms t of  qtf_t * idf(t) * tfn(d,t)

Ties broken by ascending doc_id.  All float64; summation in canonical
(sorted-term) order so engine and oracle agree bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np


def idf(n_docs: int, df: np.ndarray | int | float) -> np.ndarray | float:
    return np.log1p((n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def tf_norm(
    tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = 1.2, b: float = 0.75
) -> np.ndarray:
    """idf-free tf component: tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return tf * (k1 + 1.0) / denom


def lucene_idf_scalar(n_docs: int, df: int) -> float:
    return math.log1p((n_docs - df + 0.5) / (df + 0.5))
