"""Vectorized Next.js detector — the Arrow-UDF classifier stage.

Re-implements the reference detector (/root/reference/src/detectors/
nextjs.py:60-149) as a *vectorized* pandas computation over Arrow record
batches: each of the 19 bank patterns runs as one ``Series.str.contains``
pass (C-level loop over the batch), build-id/version extraction as
``Series.str.extract``, and scoring as numpy arithmetic over the boolean
match matrix. Only the meta-tag HTML parse is per-document (as it is in
the reference, which runs BeautifulSoup per page), and it is pre-gated to
the rows that can possibly produce a non-empty result.

This module is the "no per-row Python" half of the detector; the
row-at-a-time translation lives in crawler_spark.oracle.reference_detector
and the two are property-tested against each other (tests/test_detector.py).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from crawler_spark import patterns as P
from crawler_spark.functions._html_meta import extract_meta_tags

DETECTION_SCHEMA = T.StructType(
    [
        T.StructField("is_nextjs", T.BooleanType(), False),
        T.StructField("confidence", T.StringType(), True),
        T.StructField("indicators", T.ArrayType(T.StringType()), False),
        T.StructField("build_id", T.StringType(), True),
        T.StructField("version", T.StringType(), True),
        T.StructField("meta_tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

# (pattern_string, tier_score) in the reference's evaluation order
_BANK: list[tuple[str, int]] = (
    [(p, P.SCORE_HIGH) for p in P.HIGH_CONFIDENCE_PATTERNS]
    + [(p, P.SCORE_MEDIUM) for p in P.MEDIUM_CONFIDENCE_PATTERNS]
    + [(p, P.SCORE_LOW) for p in P.LOW_CONFIDENCE_PATTERNS]
)


def detect_frame(html: pd.Series) -> pd.DataFrame:
    """Vectorized detection over a batch of HTML strings.

    Returns a DataFrame with DETECTION_SCHEMA's columns; ``indicators``
    are sorted (the comparison contract — the reference's list(set(...))
    order is nondeterministic).
    """
    n = len(html)
    htm = html.fillna("")
    nonempty = (htm.str.len() > 0).to_numpy()

    # Boolean match matrix: one vectorized regex pass per bank pattern.
    match_cols: list[np.ndarray] = []
    for pat, _score in _BANK:
        m = htm.str.contains(pat, regex=True, flags=re.IGNORECASE)
        match_cols.append(m.to_numpy() & nonempty)
    matches = np.column_stack(match_cols) if n else np.zeros((0, len(_BANK)), bool)
    scores_vec = np.array([s for _p, s in _BANK], dtype=np.int64)

    # Case-sensitive extractions (reference src/detectors/nextjs.py:50-58).
    build_id = htm.str.extract(P.BUILD_ID_PATTERN, expand=False)
    build_id = build_id.where(nonempty, other=pd.NA)
    version = htm.str.extract(P.VERSION_PATTERN, expand=False)
    version = version.where(nonempty, other=pd.NA)
    has_build = build_id.notna().to_numpy()

    # Meta tags: per-document stdlib parse, pre-gated (guaranteed-{} rows
    # are skipped; identical output to parsing them).
    meta_list: list[dict[str, str]] = []
    for i in range(n):
        meta_list.append(extract_meta_tags(htm.iat[i]) if nonempty[i] else {})
    has_meta = np.fromiter((len(m) > 0 for m in meta_list), bool, count=n)

    # Scoring (reference truth table :125-131), fully vectorized.
    sum_score = (
        matches @ scores_vec
        + has_build * P.SCORE_BUILD_ID
        + has_meta * P.SCORE_META_TAGS
    )
    tier_max = np.where(matches.any(axis=1), (matches * scores_vec).max(axis=1), 0)
    max_score = np.maximum(
        tier_max,
        np.maximum(has_build * P.SCORE_BUILD_ID, has_meta * P.SCORE_META_TAGS),
    )
    is_nextjs = matches.any(axis=1) | has_build | has_meta
    conf = np.full(n, None, dtype=object)
    conf[is_nextjs & ((max_score >= 3) | (sum_score >= 5))] = "high"
    mask_med = is_nextjs & (conf == None) & ((max_score >= 2) | (sum_score >= 3))  # noqa: E711
    conf[mask_med] = "medium"
    conf[is_nextjs & (conf == None)] = "low"  # noqa: E711

    # Indicator assembly: per-pattern column append (19 passes, cheap).
    ind_lists: list[list[str]] = [[] for _ in range(n)]
    for j, (pat, _s) in enumerate(_BANK):
        col = matches[:, j]
        for i in np.nonzero(col)[0]:
            ind_lists[i].append(pat)
    for i in np.nonzero(has_build)[0]:
        ind_lists[i].append(f"build_id:{build_id.iat[i]}")
    for i in np.nonzero(has_meta)[0]:
        ind_lists[i].append("nextjs_meta_tags")
    indicators = [sorted(set(lst)) for lst in ind_lists]

    return pd.DataFrame(
        {
            "is_nextjs": pd.Series(is_nextjs, dtype=bool),
            "confidence": pd.Series(conf, dtype=object),
            "indicators": pd.Series(indicators, dtype=object),
            "build_id": build_id.astype(object).where(build_id.notna(), None),
            "version": version.astype(object).where(version.notna(), None),
            "meta_tags": pd.Series(meta_list, dtype=object),
        }
    )


@pandas_udf(DETECTION_SCHEMA)
def _detect_udf_raw(html: pd.Series) -> pd.DataFrame:
    """Arrow-batched detector: text column → detection struct."""
    return detect_frame(html)


# Marked nondeterministic ON PURPOSE (it is deterministic): Catalyst
# otherwise pushes confidence-gate predicates through the projection and
# duplicates the whole Arrow stage — the detector ran twice per row
# (.explain showed two ArrowEvalPython nodes, ~+25% Python time on the
# hot path). The flag pins one evaluation; upstream JVM filters
# (content-sniff, rec_type) are applied before the UDF in plan
# construction, so no useful pushdown is lost.
detect_udf = _detect_udf_raw.asNondeterministic()


def confidence_rank(col: Column) -> Column:
    """Confidence → rank column (reference src/detectors/nextjs.py:239).

    Built-in expression (JVM-side), used by threshold filters:
    ``where(confidence_rank(col) >= lit(2))``.
    """
    return (
        F.when(col == "high", F.lit(3))
        .when(col == "medium", F.lit(2))
        .when(col == "low", F.lit(1))
        .otherwise(F.lit(0))
    )
