"""Arrow-vectorized pandas UDFs over the pure scalar library.

Every UDF here is batch-vectorized (Series in, Series out — never
row-at-a-time Python registered UDFs), per the pipeline contract
("no per-row Python"). Page extraction itself is not here: it is one
``mapInPandas`` stage (``operators/extract._fused_preextract_fn``).

Spark-native expressions are preferred wherever they are byte-exact
(e.g. the email regex runs through ``regexp_extract_all`` — Java regex
supports the reference's lookahead); the UDFs below cover the genuinely
library-shaped semantics (urllib canonicalization, HTML parsing,
validation) that SQL expressions cannot reproduce.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import contacts, textnorm, urlnorm

# --------------------------------------------------------- URL lifting


@F.pandas_udf(T.StringType())
def struct_key_str(url: pd.Series) -> pd.Series:
    """Structural dedup key string (urlnorm.struct_key_str), vectorized."""
    return url.map(lambda u: urlnorm.struct_key_str(u) if u else None)


@F.pandas_udf(T.BooleanType())
def skip_by_path(url: pd.Series) -> pd.Series:
    """Vectorized asset/download path predicate (urlnorm.skip_by_path)."""
    return url.map(lambda u: urlnorm.skip_by_path(u) if u else False)


@F.pandas_udf(T.StringType())
def url_host(url: pd.Series) -> pd.Series:
    """Lower-cased hostname of a URL (for politeness partitioning)."""
    from urllib.parse import urlparse

    def _host(u: Optional[str]) -> Optional[str]:
        if not u:
            return None
        return (urlparse(u).hostname or "").lower()

    return url.map(_host)


@F.pandas_udf(T.StringType())
def url_path(url: pd.Series) -> pd.Series:
    """Path component of a URL (for robots prefix gating)."""
    from urllib.parse import urlparse

    return url.map(lambda u: urlparse(u).path or "/" if u else None)


# ----------------------------------------------------- contact lifting


@F.pandas_udf(T.StringType())
def registered_domain(host: pd.Series) -> pd.Series:
    """Registered domain (eTLD+1) of a hostname."""
    return host.map(lambda h: contacts.registered_domain(h) if h else None)


@F.pandas_udf(T.StringType())
def norm_text(text: pd.Series) -> pd.Series:
    """Normalized text (textnorm.norm_text), vectorized."""
    return text.map(lambda t: textnorm.norm_text(t) if t is not None else None)
