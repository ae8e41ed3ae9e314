"""Seeded inputs: the base corpus, the ingest micro-batches, the delete
script and the query mixes.

Everything here is a pure function of the workload seed, so two runs
with one seed hand the program byte-identical inputs and issue the same
operations in the same order (merges then fall on the same rounds).
The program only ever receives the generated DataFrames and query
arguments.
"""

from __future__ import annotations

import datetime
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from sotohp_spark.generator import generate_transcripts_pdf

# 500 conversations, ~11k turns, ~2 MB of text.  Larger corpora only
# lengthen the cold build that every run pays in set-up (see README).
BASE_SF = 0.5
# 10 new conversations of 20 turns each per append.
BATCH_CONVS = 10
BATCH_TURNS = 20
DELETES_PER_ROUND = 3

# Mix sizes: distinct operations in one pass over the search mix.
IDS_PER_PASS = 45
BOOL_PER_PASS = 16
HITS_PER_PASS = 6

_EDGE_QUERIES = [
    "retryTimeout",
    "toolCallError stackTrace",
    "timeout, retry/backoff",
    "camelCaseToken httpServer",
    "error 42 -7 2024 retry",
    "a-b c'd error",
    "parseJSON search",
]
_WINDOW_MONTHS = [(2025, 1), (2025, 2), (2025, 3)]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def base_corpus(seed: int) -> pd.DataFrame:
    return generate_transcripts_pdf(BASE_SF, seed=seed)


def marker(round_no: int) -> str:
    """A token only batch ``round_no`` carries (letters only, so the
    analysis chain keeps it whole)."""
    a, b = divmod(round_no, 26)
    return "zqmark" + chr(97 + a % 26) + chr(97 + b)


def batch(seed: int, round_no: int, after: pd.Timestamp) -> pd.DataFrame:
    """New conversations for ingest round ``round_no``: BATCH_CONVS fresh
    conversations of exactly BATCH_TURNS turns each (so every batch
    carries the same number of turns), every timestamp strictly after
    ``after`` (in-order streaming), and the round's marker token in the
    first turn of every conversation."""
    pool = generate_transcripts_pdf(0.05, seed=seed * 7919 + round_no + 1)
    sizes = pool.groupby("conv_id")["turn_idx"].size()
    keep = sorted(sizes[sizes >= BATCH_TURNS].index)[:BATCH_CONVS]
    if len(keep) < BATCH_CONVS:
        raise ValueError(f"seed {seed} round {round_no}: too few long conversations")
    pdf = pool[pool["conv_id"].isin(keep) & (pool["turn_idx"] < BATCH_TURNS)].copy()
    pdf["conv_id"] = [f"ing-r{round_no:03d}-{c}" for c in pdf["conv_id"]]
    pdf["ts"] = pdf["ts"] - pdf["ts"].min() + after + pd.Timedelta(seconds=1)
    first = pdf["turn_idx"] == 0
    mk = marker(round_no)
    pdf.loc[first, "text"] = [
        f"{t} {mk}" if t else mk for t in pdf.loc[first, "text"]
    ]
    return pdf.reset_index(drop=True)


def delete_script(seed: int, base: pd.DataFrame, rounds: int) -> list:
    """Base conversations deleted in each round, never one twice."""
    ids = np.sort(base["conv_id"].unique())
    order = _rng(seed, 3).permutation(len(ids))
    need = rounds * DELETES_PER_ROUND
    picked = ids[order[:need]]
    return [
        [str(c) for c in picked[r * DELETES_PER_ROUND:(r + 1) * DELETES_PER_ROUND]]
        for r in range(rounds)
    ]


@dataclass(frozen=True)
class Query:
    """One search operation: ``kind`` is ``ids`` (top_k without docs),
    ``hits`` (top_k with docs) or ``bool`` (top_k_bool).  ``text`` is
    the match text for ids/hits; ``must``/``should``/``must_not`` are
    single-term clauses for bool."""

    qid: str
    kind: str
    k: int
    text: str = ""
    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    ts_min: datetime.datetime | None = None
    ts_max: datetime.datetime | None = None


def vocabulary(turns: pd.DataFrame) -> tuple:
    """(head, mid) term lists of the corpus: the 20 most frequent
    words and the next 180, in frequency order."""
    counts = Counter(" ".join(t for t in turns["text"] if t).split())
    ranked = [w for w, _ in counts.most_common(200)]
    return ranked[:20], ranked[20:]


# Query shapes are cycled, not drawn, so every mix of one size has the
# same composition whatever the seed; the seed picks the terms.  This
# keeps per-run latency percentiles from moving with the draw.
# h = a head term, m = a mid term, x = a term absent from the corpus,
# e = a tokenizer edge case.
_MATCH_SHAPES = ["h", "m", "hm", "mm", "hmm", "x", "hhmm", "hx", "e"]
# (must, should, must_not) as term-class strings
_BOOL_SHAPES = [("m", "", ""), ("h", "m", ""), ("hm", "", ""), ("", "hm", ""),
                ("m", "h", "m"), ("", "mm", ""), ("mh", "m", ""),
                ("h", "mm", "h")]
_KS = [10, 1, 25, 5, 50, 3, 20]


class _Terms:
    """Seeded term picker: head terms in rotation (so each head term
    occurs equally often), mid terms at random, absent terms made up."""

    def __init__(self, rng, vocab):
        self.rng = rng
        self.hot, self.mid = vocab
        self.next_hot = int(rng.integers(len(self.hot)))

    def __call__(self, cls: str) -> str:
        if cls == "h":
            self.next_hot += 1
            return self.hot[self.next_hot % len(self.hot)]
        if cls == "m":
            return self.mid[int(self.rng.integers(len(self.mid)))]
        return "zzq" + "".join(chr(97 + int(c)) for c in self.rng.integers(0, 26, 4))


def _window(i: int, stream: int):
    """Every 16th query carries a one-month ts window.  A window query
    on a freshly opened engine can cost several times an unwindowed
    one, so the share stays well under 10%: p90 then measures the body
    of the mix instead of straddling two populations."""
    if i % 16 != 15:
        return None, None
    y, m = _WINDOW_MONTHS[(i // 16 + stream) % len(_WINDOW_MONTHS)]
    lo = datetime.datetime(y, m, 1)
    hi = datetime.datetime(y, m + 1, 1) - datetime.timedelta(seconds=1)
    return lo, hi


def query_mix(seed: int, stream: int, vocab: tuple, n_ids: int, n_hits: int,
              n_bool: int) -> list:
    """Distinct operations: 1-4-term head/mid match queries, absent
    terms, tokenizer edge cases, k from 1 to 50, every 16th in a
    one-month ``ts`` window; bool queries combine single-term must,
    should and must_not clauses."""
    term = _Terms(_rng(seed, stream), vocab)
    out = []
    for kind, n in (("ids", n_ids), ("hits", n_hits)):
        for i in range(n):
            shape = _MATCH_SHAPES[i % len(_MATCH_SHAPES)]
            if shape == "e":
                text = _EDGE_QUERIES[(i // len(_MATCH_SHAPES)) % len(_EDGE_QUERIES)]
            else:
                text = " ".join(term(c) for c in shape)
            lo, hi = _window(i, stream)
            out.append(Query(f"{kind}{i:03d}", kind, _KS[i % len(_KS)],
                             text=text, ts_min=lo, ts_max=hi))
    for i in range(n_bool):
        must, should, must_not = (tuple(term(c) for c in cls)
                                  for cls in _BOOL_SHAPES[i % len(_BOOL_SHAPES)])
        lo, hi = _window(i, stream)
        out.append(Query(f"bool{i:03d}", "bool", _KS[i % len(_KS)], must=must,
                         should=should, must_not=must_not, ts_min=lo, ts_max=hi))
    return out


def pass_order(seed: int, mix: list, pass_no: int) -> list:
    """The mix in a seeded order for one pass."""
    return [mix[i] for i in _rng(seed, 100 + pass_no).permutation(len(mix))]


def text_bytes(turns: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in turns["text"] if t))
