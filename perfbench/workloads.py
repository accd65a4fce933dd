"""Seeded input generators for the benchmark workloads.

Every workload is a pure function of its seed. The program receives only
the generated pages; the seed, sizes and structure stay here. Sizes are
chosen so that one measured run (session start, a cold warm-up job and
the warm timed jobs) fits the benchmark's per-run time budget on a
4-vCPU host.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from lsh_apg_spark.fixtures import generate_pages

WEB_MIX_DOCS = 1_000        # its 100-doc boilerplate group overflows bucket_cap
INCR_BASE_DOCS = 800
INCR_BASE_SEED = 0
INCR_FRESH_DOCS = 80
INCR_NEARDUP_DOCS = 30
INCR_REDELIVERED_DOCS = 20


@dataclass
class Workload:
    """One generated workload instance.

    ``pages`` is what the program sees: a list of (url, text). For the
    incremental workload ``base`` is the corpus the checkpoint store is
    seeded with and ``pages`` is the batch added on top of it."""
    name: str
    seed: int
    pages: list[tuple[str, str]]
    include_substring: bool
    base: list[tuple[str, str]] = field(default_factory=list)

    def digest(self) -> str:
        """sha256 over every (url, text) the program will receive."""
        return pages_digest(self.base, self.pages)

    def oracle_docs(self) -> list[tuple[str, str]]:
        """The corpus the result must cluster: for a batch run the
        pages; for an increment the stored corpus plus the batch's new
        urls (a re-delivered url keeps its stored text)."""
        if not self.base:
            return self.pages
        seen = {u for u, _ in self.base}
        out = list(self.base)
        for url, text in self.pages:
            if url not in seen:
                seen.add(url)
                out.append((url, text))
        return out

    def udf_docs(self) -> int:
        """Documents the signature UDF must fingerprint exactly once:
        distinct texts for run_dedup (exact duplicates are collapsed
        first), new urls for an increment."""
        if self.base:
            return len(self.oracle_docs()) - len(self.base)
        return len({t for _, t in self.pages})


def pages_digest(*parts: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for part in parts:
        for url, text in part:
            h.update(url.encode())
            h.update(b"\t")
            h.update(text.encode())
            h.update(b"\n")
        h.update(b"\x00")
    return h.hexdigest()


def _edit(rng: random.Random, toks: list[str], vocab: list[str],
          n_edit: int) -> list[str]:
    toks = list(toks)
    for _ in range(n_edit):
        op = rng.random()
        pos = rng.randrange(len(toks))
        if op < 0.5:
            toks[pos] = rng.choice(vocab)
        elif op < 0.75:
            toks.insert(pos, rng.choice(vocab))
        elif len(toks) > 10:
            del toks[pos]
    return toks


def web_mix(seed: int) -> Workload:
    """The repository's fixture mix at defaults: exact, near and
    substring duplicates, unique filler and a 10% boilerplate group."""
    fx = generate_pages(n_docs=WEB_MIX_DOCS, seed=seed)
    return Workload("web-mix", seed,
                    list(zip(fx.pages["url"], fx.pages["text"])), True)


def store_base() -> list[tuple[str, str]]:
    """The corpus the incremental workload's store is seeded with."""
    fx = generate_pages(n_docs=INCR_BASE_DOCS, seed=INCR_BASE_SEED)
    return list(zip(fx.pages["url"], fx.pages["text"]))


def incremental(seed: int) -> Workload:
    """A web-mix corpus as stored state plus one batch of fresh docs,
    near-duplicates of stored docs and re-delivered stored urls. The
    stored corpus is the same for every seed, so the store is built
    once per checkout; the batch varies with the seed."""
    base = store_base()
    fresh = generate_pages(n_docs=INCR_FRESH_DOCS, seed=seed + 7919,
                           id_offset=10_000_000)
    batch = list(zip(fresh.pages["url"], fresh.pages["text"]))
    rng = random.Random(seed * 31 + 5)
    vocab = sorted({w for _, t in base for w in t.split()})
    for j, (_, text) in enumerate(rng.sample(base, INCR_NEARDUP_DOCS)):
        toks = text.split()
        n_edit = max(1, round(len(toks) * rng.uniform(0.01, 0.03)))
        batch.append((f"https://batch.example/nd/{seed}/{j}",
                      " ".join(_edit(rng, toks, vocab, n_edit))))
    batch += rng.sample(base, INCR_REDELIVERED_DOCS)
    rng.shuffle(batch)
    return Workload("incremental", seed, batch, False, base=base)


WORKLOADS = {
    "web-mix": web_mix,
    "incremental": incremental,
}
