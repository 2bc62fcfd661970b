"""Seeded input generators for the benchmark workloads.

Every input is made from ``random.Random(seed)`` in plain Python and
written with pyarrow, so the same seed gives byte-identical inputs and
nothing is read from outside the working directory.  The shapes follow
the engine's test tables (``events``/``customer``/``documents``):

* ``events``: 30 day partitions of ~3.3k rows, one parquet file plus
  ``_SUCCESS`` per ``<root>/<YYYY-MM-DD>/`` directory;
* ``customer``: 15k rows, keys 0..14999 (event users are 0..1499);
* documents: whitespace-tokenized text over five languages, with
  planted near-duplicates and repetitive spam, so that every gate and
  the dedup stage have work on both sides.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAYS = [
    (dt.date(2024, 1, 1) + dt.timedelta(days=i)).isoformat() for i in range(30)
]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_USERS = 1500

#: marker words per language; the engine's marker-based ``lang_id``
#: recognises the first four, ``zh`` documents carry none
MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
    "zh": [],
}
#: document make-up, matched to the engine's sf0.1 ``documents`` test
#: table (5,000 docs; figures in README.md).  The language shares, the
#: token-count range and the near-copy share are measured there; the
#: spam share is its share of documents with under 30% distinct tokens.
#: The per-document stopword share and the content words' Zipf exponent
#: are set so that ``stream_quality_gate`` accepts the share of documents
#: it accepts there (16%) and rejects the same share for repetition (55%).
LANG_WEIGHTS = [("en", 0.4118), ("es", 0.1488), ("fr", 0.1484), ("de", 0.1404), ("zh", 0.1506)]
DOC_TOKENS = (10, 100)
NEAR_COPY_SHARE = 0.05
SPAM_SHARE = 0.04
STOPWORD_SHARE = (0.05, 0.3)
ZIPF_A = 0.45
_SYLLABLES = [
    c + v for c in "bcdfghklmnprstvz" for v in ("a", "e", "i", "o", "u", "ai", "ou")
]


def _vocab(lang: str, size: int) -> list[str]:
    """A fixed per-language content vocabulary (independent of the
    seed, like a language's lexicon); languages share no words."""
    rng = random.Random(f"vocab-{lang}")
    words: set[str] = set()
    while len(words) < size:
        words.add(lang[0] + "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3))))
    return sorted(words)


VOCAB = {lang: _vocab(lang, 1500) for lang in MARKERS}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# route_backfill inputs
# ---------------------------------------------------------------------------


def write_events(root: str, seed: int, rows_per_day: int = 3333) -> None:
    """``<root>/<day>/part-00000.parquet`` + ``_SUCCESS`` for every day."""
    rng = random.Random(seed)
    next_id = 0
    for day in DAYS:
        base = dt.datetime.fromisoformat(day)
        secs = sorted(rng.random() * 86400 for _ in range(rows_per_day))
        n = len(secs)
        table = pa.table(
            {
                "event_id": pa.array(range(next_id, next_id + n), pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=round(s, 6)) for s in secs],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([rng.randrange(N_USERS) for _ in range(n)], pa.int64()),
                "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
                "value": [round(rng.uniform(0, 200), 2) for _ in range(n)],
                "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
            }
        )
        next_id += n
        _write(table, f"{root}/{day}/part-00000.parquet")
        open(f"{root}/{day}/_SUCCESS", "w").close()


def write_customer(path: str, seed: int, n: int = 15000) -> None:
    rng = random.Random(seed + 1)
    table = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
        }
    )
    _write(table, path)


# ---------------------------------------------------------------------------
# documents (corpus_curation and stream_ingest inputs)
# ---------------------------------------------------------------------------


class DocMaker:
    """Seeded document stream.  ``take(n)`` returns the next ``n``
    documents as dicts; a share of them are near-copies of documents
    this maker produced before (or of ``pool`` documents), so dedup
    has true positives both within a corpus and across batches."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.made: list[dict] = []

    def _fresh_tokens(self, lang: str) -> list[str]:
        rng = self.rng
        n = rng.randint(*DOC_TOKENS)
        if rng.random() < SPAM_SHARE:  # repetitive spam: a handful of words on repeat
            few = rng.sample(VOCAB[lang], 3)
            return [rng.choice(few) for _ in range(n)]
        stop_p = rng.uniform(*STOPWORD_SHARE)
        markers, vocab = MARKERS[lang], VOCAB[lang]
        out = []
        for _ in range(n):
            if markers and rng.random() < stop_p:
                out.append(rng.choice(markers))
            else:  # Zipf-ish content word
                out.append(vocab[min(int(rng.paretovariate(ZIPF_A)) - 1, len(vocab) - 1)])
        return out

    def _near_copy(self, src: dict) -> tuple[list[str], str]:
        rng = self.rng
        toks = src["text"].split(" ")
        vocab = VOCAB[src["lang"]]
        if len(toks) > 30:  # one substitution keeps 3-gram Jaccard >= 0.8
            toks = list(toks)
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        return toks, src["lang"]

    def take(self, n: int, pool: list[dict] | None = None) -> list[dict]:
        rng = self.rng
        sources = (pool or []) + self.made
        first = len(self.made)
        for _ in range(n):
            if sources and rng.random() < NEAR_COPY_SHARE:
                toks, lang = self._near_copy(rng.choice(sources))
            else:
                r, lang = rng.random(), "en"
                for name, w in LANG_WEIGHTS:
                    if r < w:
                        lang = name
                        break
                    r -= w
                toks = self._fresh_tokens(lang)
            text = " ".join(toks)
            doc = {
                "doc_id": self.next_id,
                "text": text,
                "lang": lang,
                "source": f"src{self.next_id % 20}",
                "n_chars": len(text),
            }
            self.next_id += 1
            self.made.append(doc)
            sources.append(doc)
        return self.made[first:]


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_docs(docs: list[dict], path: str) -> None:
    _write(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)
