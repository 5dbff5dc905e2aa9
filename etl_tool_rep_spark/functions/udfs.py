"""Arrow-vectorized pandas UDFs — the sanctioned Python slow path.

Two constraints shape this module:
* no ``from __future__ import annotations`` — pandas_udf needs real
  (non-string) type hints to pick the vectorized execution mode;
* UDFs are constructed lazily (factories / cached wrappers), because
  ``@pandas_udf`` at module import time requires an active
  SparkSession and would make imports order-sensitive.

Everything hot-path should be a built-in Column expression instead;
these exist for kernels built-ins can't express efficiently (dense
numeric per-row compute like MinHash signatures) and to declare the
``udf_scalar`` surface.
"""

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

_cache: dict = {}


def sigmoid_score(col):
    """Batch-vectorized sigmoid over a numeric column (Arrow transfer,
    ~10-100x faster than row-at-a-time Python UDFs)."""
    if "sigmoid" not in _cache:
        @pandas_udf("double")
        def _sigmoid(total: pd.Series) -> pd.Series:
            return 1.0 / (1.0 + np.exp(-(total - 150000.0) / 50000.0))
        _cache["sigmoid"] = _sigmoid
    return _cache["sigmoid"](col)


def make_hyperplane_sig_udf(planes):
    """Vectorized random-hyperplane signature: bit i of the int64 is
    sign(<v, h_i>) > 0 for the i-th row h_i of ``planes``, so vectors
    with cosine ~1 agree on almost all bits (a NULL vector stays
    NULL)."""
    key = ("hyperplane", len(planes), len(planes[0]))
    if key not in _cache:
        P = np.array(planes, dtype=np.float64)          # (bits, dim)
        weights = (1 << np.arange(P.shape[0], dtype=np.int64))

        @pandas_udf("long")
        def hyperplane_sig(batch: pd.Series) -> pd.Series:
            return batch.map(
                lambda v: None if v is None else int(
                    ((P @ np.asarray(v, dtype=np.float64)) > 0)
                    .astype(np.int64) @ weights))
        _cache[key] = hyperplane_sig
    return _cache[key]


def make_minhash_sig_udf(perms: list, p: int):
    """Vectorized MinHash signature kernel: ((A*h+B) mod p).min over
    the shingle axis — same int64 arithmetic as the JVM higher-order
    form (a,h < 2^31 so a*h < 2^62, no overflow), at numpy speed."""
    key = ("minhash", len(perms), p)
    if key not in _cache:
        A = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
        B = np.array([b for _, b in perms], dtype=np.int64)[:, None]

        @pandas_udf("array<long>")
        def minhash_sig(batch: pd.Series) -> pd.Series:
            # NULL-propagating like the JVM reference form (a NULL
            # shingle array must not crash the task)
            return batch.map(
                lambda h: None if h is None else
                ((A * np.asarray(h, dtype=np.int64)[None, :] + B)
                 % p).min(axis=1))
        _cache[key] = minhash_sig
    return _cache[key]


def make_rolling_fp_udf(base: int, mod: int):
    """Vectorized Karp-Rabin rolling hash: Horner fold
    h = (h*base + codepoint) mod `mod` over each text's characters.
    Same exact int64 arithmetic as the JVM ``aggregate`` fold in
    operators/text.rolling_fingerprint (acc < base*mod < 2^63), but
    iterated over CHARACTER COLUMNS of a padded codepoint matrix —
    one numpy pass per position across the whole Arrow batch instead
    of one interpreted lambda per character per row (~6x on the
    documents fixture). utf-32 decode gives the codepoint vector at C
    speed; Spark/DuckDB ``ascii()``/``list_transform`` see identical
    codepoints."""
    key = ("rolling_fp", base, mod)
    if key not in _cache:

        @pandas_udf("long")
        def rolling_fp(batch: pd.Series) -> pd.Series:
            texts = batch.tolist()
            n = len(texts)
            lens = np.array([len(t) if t is not None else 0
                             for t in texts], dtype=np.int64)
            maxlen = int(lens.max()) if n else 0
            M = np.zeros((n, maxlen), dtype=np.int64)
            for r, t in enumerate(texts):
                if t:
                    M[r, :len(t)] = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32)
            acc = np.zeros(n, dtype=np.int64)
            for i in range(maxlen):
                nxt = (acc * base + M[:, i]) % mod
                acc = np.where(i < lens, nxt, acc)
            out = pd.Series(acc, dtype=object)
            for r, t in enumerate(texts):   # NULL text -> NULL fp
                if t is None:
                    out.iloc[r] = None
            return out
        _cache[key] = rolling_fp
    return _cache[key]
