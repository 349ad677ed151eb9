"""Seeded corpus generators for the benchmark, with an on-disk cache.

Each generator returns the path of a parquet table (url, text) that is the
only thing the engine sees, plus the planted ground truth (url, family_id)
and the oracle's true near-duplicate pairs. Both are cached per
(workload, seed, size) under ``perfbench/.cache`` so repeated runs of one
seed pay generation and the oracle once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from fuzzy_dedupe_pipeline_spark import oracle
from fuzzy_dedupe_pipeline_spark.synth import generate_pages

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
# bump when a generator's output changes, so stale caches are not reused
GENERATOR_VERSION = 2
# many small row groups: one row group would put every row in one Spark
# partition at read time
ROW_GROUP = 256


@dataclass(frozen=True)
class Corpus:
    path: str                 # parquet (url, text)
    truth: pd.DataFrame       # url, family_id (-1 = belongs to no family)
    true_pairs: pd.DataFrame  # url1 < url2, exact Jaccard >= 0.8 within a family
    n_docs: int


def _zipf_tokens(rng: np.random.Generator, n: int, vocab: int = 30000) -> list[str]:
    u = rng.random(n)
    idx = np.clip(np.floor((vocab**0.7 * u + 1) ** (1 / 0.7)).astype(np.int64), 0, vocab - 1)
    return [f"w{i}" for i in idx]


def _edit(rng: np.random.Generator, tokens: list[str], rate: float) -> list[str]:
    """Token delete / replace / insert, each at rate/3."""
    out: list[str] = []
    for t in tokens:
        r = rng.random()
        if r < rate / 3:
            continue
        if r < 2 * rate / 3:
            out.append(f"w{rng.integers(0, 30000)}")
            continue
        out.append(t)
        if r < rate:
            out.append(f"w{rng.integers(0, 30000)}")
    return out


def templated_pages(
    seed: int, n_families: int, family_size: int, first_family: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Families of pages, each page an edit of one template. Template lengths
    are spread evenly over 300-600 tokens and each family's edit rates evenly
    over 0.2-2% of tokens, so every seed plants the same amount of pair work;
    the seed picks the tokens and the edits.

    The stream is derived from the seed, never equal to it: a generator fed
    the same seed as ``generate_pages`` replays its draws, which made each
    template a copy of a base document of the mix."""
    rng = np.random.default_rng(np.random.SeedSequence(seed).spawn(1)[0])
    lengths = np.linspace(300, 600, n_families).astype(int)
    rates = np.linspace(0.002, 0.02, family_size)
    urls, texts, fams = [], [], []
    for f, length in enumerate(lengths):
        template = _zipf_tokens(rng, int(length))
        for j, rate in enumerate(rates):
            urls.append(f"https://tpl{f}.example/p/{j}")
            texts.append(" ".join(_edit(rng, template, float(rate))))
            fams.append(first_family + f)
    pages = pd.DataFrame({"url": urls, "text": texts})
    truth = pd.DataFrame({"url": urls, "family_id": fams})
    return pages, truth


def _build(seed: int, sizes: dict) -> tuple[pd.DataFrame, pd.DataFrame]:
    mix = generate_pages(sizes["mix_docs"], seed)
    pages = mix.pages[["url", "text"]]
    truth = mix.truth[["url", "family_id"]]
    if sizes.get("families"):
        tp, tt = templated_pages(
            seed,
            sizes["families"],
            sizes["family_size"],
            first_family=int(truth.family_id.max()) + 1,
        )
        pages = pd.concat([pages, tp], ignore_index=True)
        truth = pd.concat([truth, tt], ignore_index=True)
    # shuffle so families are spread over row groups like crawled input
    order = np.random.default_rng(np.random.SeedSequence(seed).spawn(2)[1]).permutation(len(pages))
    return pages.iloc[order].reset_index(drop=True), truth


def corpus(name: str, seed: int, sizes: dict) -> Corpus:
    """Generate (or load from cache) the corpus of one workload and seed."""
    key = "-".join(
        [name, f"s{seed}", f"v{GENERATOR_VERSION}"]
        + [f"{k}{v}" for k, v in sorted(sizes.items())]
    )
    d = os.path.join(CACHE_DIR, key)
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        pages, truth = _build(seed, sizes)
        pairs = oracle.true_pairs(pages, truth)
        os.makedirs(d, exist_ok=True)
        pages.to_parquet(os.path.join(d, "pages.parquet"), row_group_size=ROW_GROUP, index=False)
        truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)
        pairs.to_parquet(os.path.join(d, "true_pairs.parquet"), index=False)
        open(done, "w").close()
    truth = pd.read_parquet(os.path.join(d, "truth.parquet"))
    return Corpus(
        path=os.path.join(d, "pages.parquet"),
        truth=truth,
        true_pairs=pd.read_parquet(os.path.join(d, "true_pairs.parquet")),
        n_docs=len(truth),
    )
