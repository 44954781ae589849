"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md T1–T6).

Design constraints:

- **Deterministic and partition-independent**: every random choice derives
  from the row id through a splitmix64-style integer mixer (no RNG state),
  so the same ``(seed, n)`` produces identical tables at any parallelism —
  the property the two-parallelism scaling bench depends on.
- **Distributed generation**: rows are built inside ``mapInPandas`` over
  ``spark.range`` partitions, so corpus size scales with the cluster, not
  the driver (generating 10^8 rows is the same code as 10^4).
- **Planted invariants** (FIXTURES.md): Zipf(1.2) host skew with one ~20%%
  and one ~5%% mega-host; detector class mix ~8/7/3/2%% + 5%% non-HTML;
  ~70%% gzip, ~2%% truncated gzip, charset mix incl. ~1%% declared-charset
  lies; ~5%% cross-WARC duplicate URLs; per-host link fanout with dangling
  targets and revisit cycles.

``text`` is materialized with the *bulk* decode rule (EP2/EP3,
/root/reference/src/warc_processor.py:260-264) — the byte-identical-text
oracle column; tests recompute it from ``html`` and assert equality.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.oracle.reference_decode import decode_bulk

# ---------------------------------------------------------------- mixing --


def _mix(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over (id, salt) → uint64; vectorized."""
    salt_mix = np.uint64((0x9E3779B97F4A7C15 * (salt + 1)) % (1 << 64))
    z = ids.astype(np.uint64) + salt_mix
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    return (_mix(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _uint(ids: np.ndarray, salt: int, mod: int) -> np.ndarray:
    return (_mix(ids, salt) % np.uint64(mod)).astype(np.int64)


# ------------------------------------------------------------- host model --

_TLDS = [
    "com", "org", "net", "io", "dev", "app", "co", "uk", "de", "fr",
    "tr", "jp", "br", "in", "au", "ca", "nl", "se", "pl", "es",
]
_LANGS = ["en", "tr", "de", "fr", "es", "ja", "pt", "nl"]
_LANG_W = np.array([0.42, 0.22, 0.08, 0.07, 0.06, 0.05, 0.05, 0.05])

NUM_HOSTS = 2_000
MEGA_HOST_SHARE = 0.20  # host 0 (FIXTURES: "one mega-host owns ~20% of rows")
SECOND_HOST_SHARE = 0.05  # host 1


def _host_index(ids: np.ndarray, salt: int = 101) -> np.ndarray:
    """Skewed host assignment: 20% → host0, 5% → host1, rest ~Zipf(1.2)."""
    u = _u01(ids, salt)
    # Zipf(1.2) over hosts 2..NUM_HOSTS via inverse-power transform.
    zipf_rank = np.floor(
        (NUM_HOSTS - 2) * (_u01(ids, salt + 1) ** 1.2)
    ).astype(np.int64) + 2
    out = np.where(
        u < MEGA_HOST_SHARE,
        0,
        np.where(u < MEGA_HOST_SHARE + SECOND_HOST_SHARE, 1, zipf_rank),
    )
    return out


def _host_name(idx: np.ndarray, ids: np.ndarray) -> pd.Series:
    tld = np.array(_TLDS, dtype=object)[_uint(idx, 7, len(_TLDS))]
    base = pd.Series(idx).map(lambda i: f"site{i}") + "." + pd.Series(tld)
    sub = _u01(ids, 9) < 0.30  # ~30% of rows get a subdomain
    subname = np.array(["blog", "shop", "app", "docs", "www"], dtype=object)[
        _uint(ids, 10, 5)
    ]
    return pd.Series(np.where(sub, subname + "." + base, base), dtype=object)


# ------------------------------------------------------------ html model --

_WORDS = (
    "page content about product service team news article section item "
    "data value spark crawl index web site host link text sample"
).split()


def _body_text(ids: np.ndarray, n_words: int = 12) -> pd.Series:
    w = np.array(_WORDS, dtype=object)
    cols = [w[_uint(ids, 20 + k, len(w))] for k in range(min(n_words, 12))]
    out = pd.Series(cols[0], dtype=object)
    for c in cols[1:]:
        out = out + " " + pd.Series(c, dtype=object)
    if n_words > 12:
        # Scale pages toward realistic Common-Crawl text sizes by tiling
        # the 12-word seed phrase (vectorized string repeat — per-word
        # draws would be quadratic in the concat). Repetition is fine for
        # load realism: decode + the detector regex bank still scan every
        # byte.
        reps = n_words // 12
        out = (out + " ") * (reps - 1) + out
    return out


def _page_class(ids: np.ndarray) -> np.ndarray:
    """0=high 1=medium 2=low 3=adversarial 4=non-html 5=negative."""
    u = _u01(ids, 30) * 100.0
    return np.select(
        [u < 8, u < 15, u < 18, u < 20, u < 25],
        [0, 1, 2, 3, 4],
        default=5,
    )


def _build_html(ids: np.ndarray, cls: np.ndarray, body: pd.Series) -> pd.Series:
    bid = pd.Series(_uint(ids, 31, 10**9)).map(lambda x: f"bld{x:09d}")
    ver = pd.Series(_uint(ids, 32, 3)).map({0: "12.3.4", 1: "13.4.1", 2: "14.2.0"})
    with_version = _u01(ids, 33) < 0.25

    high = (
        '<html><head><meta name="next-head-count" content="3"><title>t</title>'
        + '<script src="/_next/static/' + bid + '/_buildManifest.js"></script></head>'
        + '<body><div id="__next"><p>' + body + "</p>"
        + np.where(with_version, "<footer>Next.js v" + ver + "</footer>", "")
        + '</div><script id="__NEXT_DATA__" type="application/json">'
        + '{"props":{},"buildId":"' + bid + '"}</script></body></html>'
    )
    med_kind = _uint(ids, 34, 3)
    med_marker = pd.Series(
        np.select(
            [med_kind == 0, med_kind == 1],
            [
                '<img src="/_next/image?url=%2Fa.png&w=640">',
                '<div class="next-route-announcer" role="alert"></div>',
            ],
            default='<meta name="next-head-count" content="2">',
        ),
        dtype=object,
    )
    medium = "<html><head></head><body><p>" + body + "</p>" + med_marker + "</body></html>"
    low_kind = _uint(ids, 35, 2)
    low_marker = pd.Series(
        np.where(low_kind == 0, '<a href="/_next/canary">x</a>', "<!-- made with nextjs -->"),
        dtype=object,
    )
    low = "<html><body><p>" + body + "</p>" + low_marker + "</body></html>"
    adversarial = (
        "<html><script>var my__next_var=1;</script><body><p>the renextjsify project: "
        + body
        + "</p></body></html>"
    )
    non_html = '{"kind":"json","body":"' + body + '"}'
    negative = "<html><head><title>n</title></head><body><p>" + body + "</p></body></html>"

    return pd.Series(
        np.select(
            [cls == 0, cls == 1, cls == 2, cls == 3, cls == 4],
            [high, medium, low, adversarial, non_html],
            default=negative,
        ),
        dtype=object,
    )


def _encode_rows(ids: np.ndarray, html: pd.Series) -> tuple[list[bytes], list[str]]:
    """Encode + (maybe) gzip each page; returns (raw_bytes, mime)."""
    cs_idx = _uint(ids, 40, 100)
    # 80% utf-8, 12% iso-8859-1, 8% windows-1254
    charset = np.select([cs_idx < 80, cs_idx < 92], ["utf-8", "iso-8859-1"], "windows-1254")
    lies = _u01(ids, 41) < 0.01  # declared charset ≠ actual bytes
    gz = _u01(ids, 42) < 0.70
    trunc = _u01(ids, 43) < 0.02
    raw: list[bytes] = []
    mimes: list[str] = []
    for i in range(len(ids)):
        cs = charset[i]
        declared = "utf-8" if (lies[i] and cs != "utf-8") else cs
        b = html.iat[i].encode(cs, errors="ignore")
        if gz[i]:
            b = gzip.compress(b, compresslevel=1)
            if trunc[i] and len(b) > 40:
                b = b[: max(24, int(len(b) * 0.7))]
        raw.append(b)
        mimes.append(f"text/html; charset={declared}")
    return raw, mimes


# ----------------------------------------------------------------- pages --

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "warc_source string, warc_offset bigint, mime string, status int, rec_type string"
)


def _pages_batch(
    pdf_ids: np.ndarray, num_warcs: int, body_words: int = 12
) -> pd.DataFrame:
    ids = pdf_ids
    # ~5% duplicate URLs: a dup row reuses the URL identity of (id - delta)
    # but lands in a different warc_source (exercises per-WARC vs global dedupe).
    is_dup = _u01(ids, 50) < 0.05
    identity = np.where(is_dup & (ids > 100), ids - _uint(ids, 51, 97) - 1, ids)

    host_idx = _host_index(identity)
    host = _host_name(host_idx, identity)
    cls = _page_class(identity)
    body = _body_text(identity, n_words=body_words)
    html = _build_html(identity, cls, body)
    raw, mimes = _encode_rows(identity, html)
    text = [decode_bulk(b) for b in raw]

    path = pd.Series(_uint(identity, 52, 10**6)).map(lambda x: f"/p/{x}")
    scheme = np.where(_u01(identity, 53) < 0.9, "https://", "http://")
    url = pd.Series(scheme, dtype=object) + host + path
    # a few user:pass@host:port authorities (urlparse caveat)
    odd = _u01(identity, 54) < 0.002
    url = pd.Series(
        np.where(odd, pd.Series(scheme, dtype=object) + "u:p@" + host + ":8443" + path, url),
        dtype=object,
    )

    warc_no = np.where(
        is_dup, _uint(ids, 55, num_warcs), _uint(identity, 56, num_warcs)
    )
    warc_source = pd.Series(warc_no).map(
        lambda w: f"crawl-data/CC-SYN-2026/warc/{w:05d}.warc.gz"
    )
    ts = pd.to_datetime("2026-01-01") + pd.to_timedelta(
        _uint(identity, 57, 30 * 24 * 3600), unit="s"
    )
    status = np.select(
        [_u01(identity, 58) < 0.9, _u01(identity, 58) < 0.96], [200, 404], 301
    )
    rec_type = np.where(_u01(identity, 59) < 0.97, "response", "request")
    lang = np.array(_LANGS, dtype=object)[
        np.searchsorted(np.cumsum(_LANG_W), _u01(identity, 60), side="right").clip(
            0, len(_LANGS) - 1
        )
    ]
    mime = pd.Series(mimes, dtype=object)
    mime = pd.Series(np.where(cls == 4, "application/json", mime), dtype=object)

    return pd.DataFrame(
        {
            "url": url,
            "warc_ts": ts,
            "html": pd.Series(raw, dtype=object),
            "text": pd.Series(text, dtype=object),
            "lang": pd.Series(lang, dtype=object),
            "warc_source": warc_source,
            "warc_offset": ids.astype(np.int64),
            "mime": mime,
            "status": pd.Series(status, dtype=np.int32),
            "rec_type": pd.Series(rec_type, dtype=object),
        }
    )


def generate_pages(
    spark: SparkSession,
    n: int,
    num_warcs: int | None = None,
    partitions: int | None = None,
    body_words: int = 12,
) -> DataFrame:
    """Distributed deterministic pages table (T1).

    body_words sizes the page text (12 ≈ 100 B unit-test pages; a few
    hundred ≈ the KB-scale text of real crawl pages — used by the bench
    so decode+detector compute reflects production byte volumes)."""
    num_warcs = num_warcs or max(4, n // 2_000)
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _pages_batch(pdf["id"].to_numpy(), num_warcs, body_words=body_words)

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


# ----------------------------------------------------------------- links --

LINKS_SCHEMA = "src_url string, dst_url string"


def generate_links(
    spark: SparkSession, n_pages: int, avg_fanout: int = 8, partitions: int | None = None
) -> DataFrame:
    """T4 out-links: closure over page ids with ~10% dangling targets and
    planted revisit cycles (BFS must terminate via URL-seen)."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            rows_src: list[np.ndarray] = []
            rows_dst: list[np.ndarray] = []
            fanout = 1 + _uint(ids, 70, 2 * avg_fanout - 1)
            for k in range(int(fanout.max())):
                sel = fanout > k
                src = ids[sel]
                dangling = _u01(src, 80 + k) < 0.10
                cycle = _u01(src, 90 + k) < 0.05
                dst = _uint(src, 100 + k, max(n_pages, 1))
                dst = np.where(cycle, np.maximum(src.astype(np.int64) - 1, 0), dst)
                dst = np.where(dangling, dst + n_pages, dst)  # beyond corpus → dead
                rows_src.append(src)
                rows_dst.append(dst)
            src_all = np.concatenate(rows_src) if rows_src else np.array([], np.int64)
            dst_all = np.concatenate(rows_dst) if rows_dst else np.array([], np.int64)
            yield pd.DataFrame(
                {"src_id": src_all.astype(np.int64), "dst_id": dst_all.astype(np.int64)}
            ).pipe(_ids_to_urls)

    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(gen, LINKS_SCHEMA)


def _page_url_for_ids(ids: np.ndarray) -> pd.Series:
    """Rebuild the canonical page URL for a page id (matches _pages_batch
    for non-dup identities)."""
    host = _host_name(_host_index(ids), ids)
    path = pd.Series(_uint(ids, 52, 10**6)).map(lambda x: f"/p/{x}")
    scheme = np.where(_u01(ids, 53) < 0.9, "https://", "http://")
    return pd.Series(scheme, dtype=object) + host + path


def _ids_to_urls(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "src_url": _page_url_for_ids(pdf["src_id"].to_numpy()),
            "dst_url": _page_url_for_ids(pdf["dst_id"].to_numpy()),
        }
    )


# ----------------------------------------------------------------- seeds --

SEEDS_SCHEMA = "seed_id bigint, url string"


def generate_seeds(spark: SparkSession, n_seeds: int, n_pages: int) -> DataFrame:
    """T2 seed list: subset of page URLs + ~2% dead hosts (failure path)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sid = pdf["id"].to_numpy()
            page_id = _uint(sid, 110, max(n_pages, 1))
            dead = _u01(sid, 111) < 0.02
            url = _page_url_for_ids(page_id)
            url = pd.Series(
                np.where(
                    dead,
                    pd.Series(sid).map(lambda s: f"https://dead{s}.invalid/"),
                    url,
                ),
                dtype=object,
            )
            yield pd.DataFrame({"seed_id": sid.astype(np.int64), "url": url})

    return spark.range(0, n_seeds, numPartitions=4).mapInPandas(gen, SEEDS_SCHEMA)


# ---------------------------------------------------------------- robots --

def generate_robots(spark: SparkSession, sample_of_pages: DataFrame) -> DataFrame:
    """T5 robots: ~10% of hosts disallow /p/ prefixes ending in a digit
    class; ~5% set crawl_delay. Derived from the distinct hosts of a pages
    sample so the gate provably bites."""
    from crawler_spark.functions.url import canonicalize_udf

    hosts = (
        sample_of_pages.select(canonicalize_udf("url").alias("c"))
        .select(F.col("c.host").alias("host"))
        .where(F.col("host").isNotNull())
        .distinct()
    )
    h = F.abs(F.xxhash64("host"))
    return hosts.select(
        "host",
        F.when(h % 10 == 0, F.array(F.lit("/p/1"), F.lit("/p/2")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow_prefixes"),
        F.when(h % 20 == 3, (h % 5 + 1).cast("double")).alias("crawl_delay"),
    )
