"""Correctness gate: serial golden rows, full-output digests, resume contract.

Every timed pass is checked against ``refimpl.golden.golden_row`` on a
seeded sample of urls, and all passes of one run must produce the same
full-output digest. Each document that fails a check counts once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pycorrector_spark.config import DROP_REASONS
from pycorrector_spark.refimpl.golden import golden_row

GOLDEN_FIELDS = ("keep", "drop_reason", "scrubbed_text", "corrected_text", "n_errors")
GOLDEN_SAMPLE = 100
REASONS = ["", *DROP_REASONS]


def sample_urls(docs: pd.DataFrame, seed: int, k: int = GOLDEN_SAMPLE) -> list:
    pick = np.random.default_rng([seed, 4]).choice(len(docs), size=min(k, len(docs)), replace=False)
    return sorted(docs["url"].iloc[pick].tolist())


def golden_expectations(docs: pd.DataFrame, urls, zh, en, cfg) -> dict:
    """{url: {field: value}} from the serial oracle."""
    text_of = dict(zip(docs["url"], docs["text"]))
    out = {}
    for url in urls:
        row = golden_row(text_of[url], zh, en, cfg)
        out[url] = {f: row[f] for f in GOLDEN_FIELDS}
    return out


def golden_mismatches(expected: dict, observed: dict) -> list:
    """[(url, field, expected, observed)] — one entry per mismatching url.

    A url missing from ``observed`` is a mismatch on every field.
    """
    bad = []
    for url, exp in expected.items():
        got = observed.get(url)
        if got is None:
            bad.append((url, "<missing>", exp, None))
            continue
        for f in GOLDEN_FIELDS:
            if got.get(f) != exp[f]:
                bad.append((url, f, exp[f], got.get(f)))
                break
    return bad


def digest_aggs(df, sample: list):
    """Aggregate columns for one action over a scored frame: row count, a
    96-bit order-independent digest of every output column, drop_reason
    counts, and the sampled urls' golden fields."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    reason = F.coalesce(F.col("drop_reason"), F.lit("<null>"))
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("x64"),
        F.bit_xor(F.hash(*cols)).alias("x32"),
        *[F.sum((reason == r).cast("long")).alias(f"reason_{i}") for i, r in enumerate(REASONS)],
        F.collect_list(
            F.when(F.col("url").isin(sample), F.struct("url", *GOLDEN_FIELDS))
        ).alias("sample"),
    ]


def unpack_digest(row) -> dict:
    """Driver-side view of one ``digest_aggs`` result row."""
    reasons = {r: int(row[f"reason_{i}"] or 0) for i, r in enumerate(REASONS)}
    return {
        "n": int(row["n"]),
        "digest": f"{int(row['x64'] or 0) & (2**64 - 1):016x}{int(row['x32'] or 0) & (2**32 - 1):08x}",
        "drop_reasons": {("keep" if r == "" else r): c for r, c in reasons.items()},
        "sample": {s["url"]: s.asDict() for s in row["sample"]},
    }


def url_aggs():
    """Distinct url count and an order-independent hash of the urls."""
    from pyspark.sql import functions as F

    return [
        F.countDistinct("url").alias("n_urls"),
        F.bit_xor(F.xxhash64("url")).alias("url_xor"),
    ]


def unpack_urls(row) -> dict:
    return {"n_urls": int(row["n_urls"]), "url_xor": int(row["url_xor"] or 0)}


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exact equality of two output frames (NaN equals NaN)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" and y.dtype.kind == "f":
            if not np.array_equal(x.to_numpy(), y.to_numpy(), equal_nan=True):
                return False
        elif x.tolist() != y.tolist():
            return False
    return True
