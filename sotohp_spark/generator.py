"""Deterministic synthetic transcripts + reference query set (seed=42).

Input shape is fixed by the engine contract: an (Iceberg-style) table
of multi-turn conversation/agent transcript turns with columns
``conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp``.  This generator synthesizes it at any scale factor —
no external data.  Properties:

- number of conversations = round(1000 * sf); turns/conv ~ U[3, 40];
- Zipf(s=1.2) vocabulary of ~5000 terms => hot-term skew, so the
  doc-range-sharded postings merge is actually exercised;
- ~2% of texts carry tokenizer edge cases (camelCase compounds,
  standalone numbers, rewrite/mapping trigger strings);
- ts is monotone non-decreasing within a conversation;
- fully deterministic: numpy PCG64 seeded per (seed, conv bucket).

Everything is generated in numpy/pandas and handed to Spark via
``createDataFrame`` (small sf) or written once to parquet (bench sf).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = np.array([0.35, 0.40, 0.05, 0.20])
TOOLS = np.array(["bash", "search", "editor", "browser", "python"])

_EDGE_SNIPPETS = [
    "I am with nigght 42thing",
    "retryTimeout toolCallError stackTrace",
    "error 42 -7 2024 retry",
    "camelCaseToken httpServer parseJSON",
    "timeout, retry/backoff a-b c'd",
]

VOCAB_SIZE = 5000
ZIPF_S = 1.2


def _vocab() -> np.ndarray:
    # deterministic pseudo-words: tNNNN plus a readable hot head
    head = [
        "error", "retry", "timeout", "tool", "call", "user", "agent",
        "search", "file", "run", "test", "code", "read", "write",
        "token", "query", "index", "spark", "shuffle", "join",
    ]
    tail = [f"t{i:04d}" for i in range(VOCAB_SIZE - len(head))]
    return np.array(head + tail)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** (-s)
    return p / p.sum()


def generate_transcripts_pdf(sf: float, seed: int = 42) -> pd.DataFrame:
    """Generate all turns as one pandas DataFrame (fine up to sf~10)."""
    n_convs = max(1, int(round(1000 * sf)))
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = _vocab()
    probs = _zipf_probs(VOCAB_SIZE, ZIPF_S)

    n_turns_per_conv = rng.integers(3, 41, size=n_convs)
    total_turns = int(n_turns_per_conv.sum())

    conv_ids = np.repeat(
        np.array([f"conv-{i:06d}" for i in range(n_convs)]), n_turns_per_conv
    )
    turn_idx = np.concatenate([np.arange(n) for n in n_turns_per_conv]).astype(np.int32)

    roles = ROLES[rng.choice(len(ROLES), size=total_turns, p=ROLE_P)]
    tools = np.where(
        roles == "tool", TOOLS[rng.integers(0, len(TOOLS), size=total_turns)], None
    )

    # text: 4..60 vocab draws per turn, Zipf-distributed
    words_per_turn = rng.integers(4, 61, size=total_turns)
    flat_words = vocab[rng.choice(VOCAB_SIZE, size=int(words_per_turn.sum()), p=probs)]
    offsets = np.concatenate([[0], np.cumsum(words_per_turn)])
    texts = [
        " ".join(flat_words[offsets[i] : offsets[i + 1]]) for i in range(total_turns)
    ]

    # ~2% edge-case texts, deterministic positions
    edge_mask = rng.random(total_turns) < 0.02
    edge_pick = rng.integers(0, len(_EDGE_SNIPPETS), size=total_turns)
    for i in np.flatnonzero(edge_mask):
        texts[i] = texts[i] + " " + _EDGE_SNIPPETS[edge_pick[i]]

    # occasional null/empty text (dropped by tokenizer)
    null_mask = rng.random(total_turns) < 0.005
    for i in np.flatnonzero(null_mask):
        texts[i] = None if (i % 2 == 0) else ""

    # timestamps: conv start uniform over 90 days of 2025-01..03,
    # per-turn gaps 1..300 s, monotone within conversation
    conv_start = rng.integers(0, 90 * 24 * 3600, size=n_convs)
    gaps = rng.integers(1, 301, size=total_turns)
    base = np.repeat(conv_start, n_turns_per_conv)
    # cumulative gap within each conversation
    gap_cum = np.concatenate(
        [np.cumsum(gaps[offs : offs + n]) for offs, n in zip(
            np.concatenate([[0], np.cumsum(n_turns_per_conv)])[:-1], n_turns_per_conv
        )]
    )
    epoch = np.datetime64("2025-01-01T00:00:00") + (base + gap_cum).astype(
        "timedelta64[s]"
    )

    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": roles,
            "text": pd.array(texts, dtype=object),
            "tool": pd.array(list(tools), dtype=object),
            "ts": epoch.astype("datetime64[us]"),
        }
    )


def transcripts_df(spark: SparkSession, sf: float, seed: int = 42) -> DataFrame:
    pdf = generate_transcripts_pdf(sf, seed)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


# ---------------------------------------------------------------------------
# Reference query set (~50 deterministic queries; see FIXTURES.md §3)
# ---------------------------------------------------------------------------


def reference_queries(seed: int = 42) -> pd.DataFrame:
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    vocab = _vocab()
    hot = vocab[:20]
    mid = vocab[20:200]
    rows = []
    qid = 1

    def add(text, k=10):
        nonlocal qid
        rows.append({"query_id": f"q{qid:03d}", "query_text": text, "k": k})
        qid += 1

    # 30 random 1-4 term conjunctions from hot+mid vocabulary
    for _ in range(30):
        n = int(rng.integers(1, 5))
        terms = [
            str(hot[rng.integers(0, len(hot))])
            if rng.random() < 0.4
            else str(mid[rng.integers(0, len(mid))])
            for _ in range(n)
        ]
        add(" ".join(terms))
    # 5 guaranteed hot-head queries
    for t in ["error", "retry timeout", "tool call error", "search query", "index"]:
        add(t)
    # 5 absent-term queries (empty results)
    for t in ["zzzqx", "qqqabsent", "error zzzqx", "nonexistentterm", "xyzzy plugh"]:
        add(t)
    # 5 tokenizer-edge queries
    for t in [
        "retryTimeout",
        "I am with error",
        "42 error",
        "toolCallError stackTrace",
        "timeout, retry/backoff",
    ]:
        add(t)
    # 5 varied-k
    for t, k in [("error", 1), ("retry", 5), ("timeout", 25), ("tool", 50), ("user agent", 3)]:
        add(t, k)
    return pd.DataFrame(rows)
