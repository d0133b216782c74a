"""Seeded benchmark inputs: transcript tables and query streams.

Everything here is a pure function of its ``seed`` argument, so one seed
always yields byte-identical parquet files and the same query stream.

Transcripts follow the engine's input schema (conv_id, turn_idx, role, text,
tool, ts).  Words come from a Zipfian vocabulary (s = 1.07) of synthetic
syllable words, 5-120 tokens per turn.  A few tokens carry capitals,
punctuation or hyphens so the tokenizer's cleaning and hyphen-expansion rules
run on every workload.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import numpy as np

ZIPF_S = 1.07
MIN_TOKENS, MAX_TOKENS = 5, 120
ROLES = ["user", "assistant", "tool", "assistant", "user", "system", "tool", "assistant"]
TOOLS = ["bash", "search", "browser", "editor"]
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

_ONSETS = "bdfgklmnprstvz"
_VOWELS = "aiou"
_SYLLABLES = [c + v for c in _ONSETS for v in _VOWELS]
_CODAS = "nrtlmk"


def word(rank: int) -> str:
    """Vocabulary word of a Zipf rank: distinct ranks give distinct words."""
    out = []
    r = rank
    while True:
        out.append(_SYLLABLES[r % len(_SYLLABLES)])
        r //= len(_SYLLABLES)
        if r == 0:
            break
    return "".join(out) + _CODAS[rank % len(_CODAS)]


def _decorate(w: str, code: float) -> str:
    """Surface noise the tokenizer must undo (capitals, edge punctuation)."""
    if code < 0.01:
        return w.capitalize()
    if code < 0.02:
        return w + "."
    if code < 0.025:
        return '"' + w + '"'
    return w


def transcripts(seed: int, n_turns: int, vocab_size: int, first_conv: int = 0) -> dict[str, list]:
    """Column dict of ``n_turns`` transcript turns drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_turns)
    n_tokens = int(lengths.sum())
    cdf = np.cumsum(np.arange(1, vocab_size + 1, dtype=np.float64) ** -ZIPF_S)
    ranks = np.searchsorted(cdf, rng.random(n_tokens) * cdf[-1], side="right")
    codes = rng.random(n_tokens)
    hyphen = rng.random(n_tokens) < 0.005
    words = {int(r): word(int(r)) for r in np.unique(ranks)}
    tokens = [
        _decorate(words[r], c) for r, c in zip(ranks.tolist(), codes.tolist())
    ]
    conv_sizes = rng.integers(3, 13, size=n_turns)

    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    off = 0
    conv, turn_idx = first_conv, 0
    for i, n in enumerate(lengths.tolist()):
        toks = tokens[off : off + n]
        for j in np.flatnonzero(hyphen[off : off + n - 1]).tolist():
            toks[j] = toks[j] + "-" + toks[j + 1]
        off += n
        role = ROLES[(conv + turn_idx) % len(ROLES)]
        cols["conv_id"].append(f"c{conv:07d}")
        cols["turn_idx"].append(turn_idx)
        cols["role"].append(role)
        cols["text"].append(" ".join(toks))
        cols["tool"].append(TOOLS[(conv + turn_idx) % len(TOOLS)] if role == "tool" else None)
        cols["ts"].append(EPOCH + timedelta(seconds=30 * (first_conv * 16 + i)))
        turn_idx += 1
        if turn_idx >= conv_sizes[conv % n_turns]:
            conv, turn_idx = conv + 1, 0
    return cols


def write_parquet(cols: dict[str, list], path: str) -> int:
    """Write a transcript column dict as one parquet file; returns text bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)
    return sum(len(t.encode()) for t in cols["text"])


def stable_docs(cols: dict[str, list]) -> list[tuple[int, list[str]]]:
    """(doc_id, [text]) in the engine's doc-id order: (conv_id, turn_idx)."""
    order = sorted(range(len(cols["text"])), key=lambda i: (cols["conv_id"][i], cols["turn_idx"][i]))
    return [(doc_id, [cols["text"][i]]) for doc_id, i in enumerate(order)]


# --- query streams ------------------------------------------------------------

# kind -> queries per 20: BM25 is the majority, every other kind is present
QUERY_MIX = {"bm25": 9, "tfidf": 2, "wand": 2, "filtered": 2, "boolean": 3, "phrase": 2}
# Kinds follow one fixed shuffled cycle whatever the seed, so every run's
# stream has the same mix of kinds; the seed picks terms and filters.
_KIND_CYCLE = [k for k, n in QUERY_MIX.items() for _ in range(n)]
random.Random(0).shuffle(_KIND_CYCLE)


def term_bands(df_by_term: dict[str, int]) -> tuple[list[str], list[str], list[str]]:
    """Split terms by document frequency into head (top 1%), torso (next
    19%) and tail (the rest, df >= 2) of the index's own distribution."""
    ranked = sorted((t for t in df_by_term if t), key=lambda t: (-df_by_term[t], t))
    n = len(ranked)
    head, torso = ranked[: max(1, n // 100)], ranked[max(1, n // 100) : max(2, n // 5)]
    tail = [t for t in ranked[max(2, n // 5) :] if df_by_term[t] >= 2] or torso
    return head, torso, tail


def _mixed_terms(rng: random.Random, bands, n: int) -> list[str]:
    head, torso, tail = bands
    out = []
    for _ in range(n):
        band = rng.choices((head, torso, tail), weights=(0.25, 0.45, 0.3))[0]
        out.append(rng.choice(band))
    return out


def query_stream(
    seed, n: int, bands, words: list[str], phrases: list[str]
) -> list[tuple[str, str, str | None, str | None]]:
    """``n`` (kind, query, role, tool) tuples; role/tool restrict the
    ``filtered`` kind.  Ranked kinds use index terms (ranked queries skip
    the tokenizer); Boolean kinds use surface words, which the parser
    tokenizes and stems itself."""
    rng = random.Random(str(seed))
    out = []
    for i in range(n):
        kind = _KIND_CYCLE[i % len(_KIND_CYCLE)]
        role = tool = None
        if kind == "phrase":
            q = '"' + rng.choice(phrases) + '"'
        elif kind == "boolean":
            a, b, c = (rng.choice(words) for _ in range(3))
            q = rng.choice((f"{a} {b}", f"{a} + {b}", f"{a} -{b}", f"{a} {b} + {c}"))
        else:
            q = " ".join(_mixed_terms(rng, bands, rng.randint(2, 4)))
            if kind == "filtered":
                if rng.random() < 0.5:
                    role = rng.choice(("assistant", "user", "tool"))
                else:
                    tool = rng.choice(TOOLS)
        out.append((kind, q, role, tool))
    return out


def surface_samples(seed: int, cols: dict[str, list], n: int) -> tuple[list[str], list[str]]:
    """Plain surface words and adjacent word pairs taken from the turns, the
    material for Boolean and phrase queries that match something."""
    rng = random.Random(str(seed))
    words, phrases = [], []
    texts = cols["text"]
    while len(phrases) < n:
        toks = texts[rng.randrange(len(texts))].split(" ")
        i = rng.randrange(len(toks) - 1)
        a, b = toks[i], toks[i + 1]
        if a.isalpha() and a.islower() and b.isalpha() and b.islower():
            words.append(a)
            phrases.append(f"{a} {b}")
    return words, phrases
