"""Benchmark inputs: cached corpora, seeded seed lists and oracle tables.

The corpora do not depend on ``--seed``; they are generated once per
checkout with the repo's own generators (``sources/corpus.py``) and cached
under the work directory, keyed by their sizes and by the source of every
module that shapes them, so a change to a generator or to the reference
detector regenerates them. What the seed picks (seed lists, retract
slices, the classify check sample) is built per run from these tables.
Generation runs before set-up and is never timed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# every file whose content shapes a cached corpus or its oracle tables
_KEY_SOURCES = (
    "crawler_spark/sources/corpus.py",
    "crawler_spark/oracle/reference_decode.py",
    "crawler_spark/oracle/reference_detector.py",
    "crawler_spark/patterns.py",
    "crawler_spark/functions/_html_meta.py",
    "crawler_spark/functions/url.py",
    "perfbench/inputs.py",
)


@dataclass(frozen=True)
class Corpus:
    pages: int
    words: int
    fanout: int = 8
    files: int = 16  # parquet files per table: ≥ 4× the task slots

    def key(self) -> str:
        h = hashlib.sha256(repr(self).encode())
        for rel in _KEY_SOURCES:
            with open(os.path.join(ROOT, rel), "rb") as f:
                h.update(f.read())
        return f"p{self.pages}-w{self.words}-{h.hexdigest()[:12]}"


def ensure_corpus(spark, work: str, c: Corpus, with_links: bool) -> str:
    """Directory holding ``pages`` (and ``links``, ``robots``) parquet;
    generated on first use, published by an atomic rename."""
    from pyspark.sql import functions as F

    from crawler_spark.sources.corpus import (
        generate_links,
        generate_pages,
        generate_robots,
    )

    final = os.path.join(work, "corpus", c.key() + ("-l" if with_links else ""))
    if os.path.exists(os.path.join(final, "_done")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_pages(spark, c.pages, partitions=c.files, body_words=c.words).write.parquet(
        f"{tmp}/pages"
    )
    if with_links:
        generate_links(spark, c.pages, avg_fanout=c.fanout, partitions=c.files).write.parquet(
            f"{tmp}/links"
        )
        pages = spark.read.parquet(f"{tmp}/pages")
        # bench.py's robots recipe: hosts of a deterministic 5% row sample
        generate_robots(spark, pages.where(F.xxhash64("url") % 20 == 0)).coalesce(
            1
        ).write.parquet(f"{tmp}/robots")
        _write_crawl_oracle_tables(tmp)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _passes_gate(text: str | None) -> bool:
    """The crawl's results gate: is_nextjs with confidence ≥ medium,
    decided by the row-at-a-time reference detector."""
    from crawler_spark.oracle.reference_detector import detect
    from crawler_spark.patterns import CONFIDENCE_ORDER

    d = detect(text)
    return d["is_nextjs"] and CONFIDENCE_ORDER.get(d["confidence"], 0) >= 2


def _write_crawl_oracle_tables(root: str) -> None:
    pages = pq.read_table(f"{root}/pages", columns=["url", "text", "warc_offset"]).to_pandas()
    # the crawl fetches the first copy of a url in warc_offset order
    first = pages.sort_values("warc_offset").drop_duplicates("url")
    result_urls = {u for u, t in zip(first["url"], first["text"]) if _passes_gate(t)}
    links: dict[str, list[str]] = {}
    lk = pq.read_table(f"{root}/links").to_pydict()
    for s, d in zip(lk["src_url"], lk["dst_url"]):
        links.setdefault(s, []).append(d)
    rb = pq.read_table(f"{root}/robots").to_pydict()
    robots = {
        h: (list(p or []), d)
        for h, p, d in zip(rb["host"], rb["disallow_prefixes"], rb["crawl_delay"])
    }
    tables = {
        "page_urls": set(first["url"]),
        "links": links,
        "robots": robots,
        "result_urls": result_urls,
    }
    with open(f"{root}/oracle.pkl", "wb") as f:
        pickle.dump(tables, f, protocol=pickle.HIGHEST_PROTOCOL)


def load_oracle_tables(corpus_dir: str) -> dict:
    """Tables the crawl oracle reads; written by this module only."""
    with open(os.path.join(corpus_dir, "oracle.pkl"), "rb") as f:
        return pickle.load(f)


def seed_list(page_urls: set[str], n: int, seed: int, dead_share: float = 0.02):
    """``n`` seeds drawn from the corpus by ``seed``; a ``dead_share`` of
    them are unresolvable ``.invalid`` hosts (planted fetch misses)."""
    rng = random.Random(seed)
    urls = rng.sample(sorted(page_urls), n)
    return [
        (i, f"https://dead{seed}-{i}.invalid/" if rng.random() < dead_share else u)
        for i, u in enumerate(urls)
    ]


def retract_slice(url_of: dict[str, str], share: float, seed: int, k: int) -> dict[str, str]:
    """A seeded ``share`` of the seen set (surt → url), the k-th slice."""
    rng = random.Random(seed * 1_000 + k)
    keys = sorted(url_of)
    picked = rng.sample(keys, int(len(keys) * share))
    return {s: url_of[s] for s in picked}
