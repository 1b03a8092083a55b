"""Seeded long-tail page generator for the ``kg_build`` workload.

Runs in one process and reads only committed resources: the head-term
vocabulary is the ``term`` column of the a100 descriptor fixture shipped in
the package. Entity slots draw a head term from a Zipf(1.2) law over a fixed
ranking of that vocabulary, take an optional modifier, and about 13 % of
slots carry a one-character spelling variant of the modifier, so exact
grouping, fuzzy LSH matching and connected components all have work. The
ranking does not depend on the seed: seeds change the draws, not which
terms form the head of the distribution, so runs with different seeds do
comparable work.

The output is a pages table with the package's page schema
(url, warc_ts, html, text, lang); half the pages carry only ``html`` (the
same boilerplate wrap ``pipeline.text.wrap_html`` builds), half only
``text``.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np

ZIPF_S = 1.2
MODIFIER_P = 0.35
VARIANT_P = 0.13

# Every template word outside the slots is either an English function word
# or a lowercase -ed form, so the package's POS-lite rule keeps each slot a
# mention of its own and the words between two slots become the predicate.
TEMPLATES = [
    "{0} was associated with {1}",
    "{0} caused {1} in {2}",
    "{0} and {1} were compared against {2}",
    "{0} is linked to {1}",
    "{0} was reported with {1} after {2}",
    "{0} reduced {1}",
    "{0} was detected in {1} and {2}",
    "{0} interacted with {1}",
]
MODIFIERS = [
    "acute", "chronic", "severe", "mild", "primary", "recurrent", "novel",
    "oral", "human", "murine", "systemic", "focal", "benign", "malignant",
    "neonatal", "adult", "pediatric", "viral", "hepatic", "renal",
]
_FUNCTION = frozenset(
    "a an the and or but nor of to in on at by for from with as is are was "
    "were be been not no do does did has have had can may will".split()
)
_WORD = re.compile(r"^[a-z]{4,}$")


@dataclass(frozen=True)
class CorpusStats:
    pages: int
    sentences: int
    input_bytes: int
    distinct_heads: int
    slots: int
    variant_share: float


def head_vocabulary(fixture_parquet: str) -> list[str]:
    """Sorted head terms a slot may draw: fixture terms that the package's
    POS-lite rule reads as one noun token (lowercase letters, no function
    word, no -ly/-ed/-ing ending)."""
    import pyarrow.parquet as pq

    terms = pq.read_table(fixture_parquet, columns=["term"]).column("term").to_pylist()
    return sorted(
        t for t in set(terms)
        if _WORD.match(t) and t not in _FUNCTION
        and not t.endswith(("ly", "ed", "ing"))
    )


def _misspell(word: str, rng: np.random.Generator) -> str:
    i = int(rng.integers(1, len(word) - 1))
    op = int(rng.integers(0, 3))
    if op == 0:  # drop an interior letter
        return word[:i] + word[i + 1:]
    if op == 1:  # double it
        return word[:i] + word[i] + word[i:]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]  # swap neighbours


def long_tail_pages(n_pages: int, seed: int, vocab: list[str]):
    """Returns (columns, stats): ``columns`` maps each page column to a list
    of ``n_pages`` values. Same seed and vocabulary, same pages."""
    rng = np.random.default_rng(seed)
    ranked = sorted(vocab, key=lambda t: hashlib.md5(t.encode("utf-8")).hexdigest())
    weights = np.arange(1, len(ranked) + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(weights / weights.sum())
    n_sents = rng.integers(3, 9, size=n_pages)
    heads_seen: set[str] = set()
    slots = variants = 0
    cols: dict[str, list] = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    n_bytes = 0
    for pid in range(n_pages):
        sents = []
        for _ in range(n_sents[pid]):
            tpl = TEMPLATES[int(rng.integers(0, len(TEMPLATES)))]
            n_slots = tpl.count("{")
            heads = np.searchsorted(cdf, rng.random(n_slots), side="right")
            fills = []
            for h in heads:
                head = ranked[min(int(h), len(ranked) - 1)]
                heads_seen.add(head)
                slots += 1
                r = rng.random()
                if r < VARIANT_P:
                    mod = _misspell(MODIFIERS[int(rng.integers(0, len(MODIFIERS)))], rng)
                    variants += 1
                    fills.append(f"{mod} {head}")
                elif r < VARIANT_P + MODIFIER_P:
                    fills.append(f"{MODIFIERS[int(rng.integers(0, len(MODIFIERS)))]} {head}")
                else:
                    fills.append(head)
            sents.append(tpl.format(*fills))
        text = "\n".join(sents)
        url = f"https://longtail.test/p/{seed}/{pid}"
        cols["url"].append(url)
        cols["warc_ts"].append(1_600_000_000 + pid)
        cols["lang"].append("en")
        if pid % 2 == 0:
            html = (f"<html><head><title>{url}</title></head><body><p>"
                    f"{text}</p></body></html>").encode("utf-8")
            cols["html"].append(html)
            cols["text"].append(None)
            n_bytes += len(html)
        else:
            cols["html"].append(None)
            cols["text"].append(text)
            n_bytes += len(text.encode("utf-8"))
    stats = CorpusStats(
        pages=n_pages,
        sentences=int(n_sents.sum()),
        input_bytes=n_bytes,
        distinct_heads=len(heads_seen),
        slots=slots,
        variant_share=variants / max(slots, 1),
    )
    return cols, stats


def write_pages_parquet(cols: dict[str, list], path: str) -> None:
    """Pages parquet directory with the package's page schema (warc_ts a UTC
    timestamp), as one file: the job reads a file as one task, and every
    task writes one file per checkpoint bucket it holds, so at this corpus
    size more input files mostly add per-file write cost."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    table = pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("s", tz="UTC")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    })
    pq.write_table(table, os.path.join(path, "part-00.parquet"))
