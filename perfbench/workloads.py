"""Seeded input generators for the score-pipeline benchmark.

Every generator is a pure function of its seed: the same seed gives the
same rows in the same order. Inputs follow the pipeline's web-page
contract (url, warc_ts, html, text, lang) with distinct urls.

- ``zh_mix``: documents in the shape of ``fixtures.make_docs`` (70% zh,
  25% en, 5% junk, 10% long, 6% PII), drawn from the in-repo sentence
  pools. The only workload that reaches the zh detect/correct layers.
- ``en_soup``: the committed sf0.1 ``documents`` table (English word soup,
  every doc language-ID'd ``en``) replicated with distinct urls; the seed
  permutes the rows.
- ``resume_write``: the ``en_soup`` input plus a seeded half of its urls
  that a prior, untimed run has already written.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pandas as pd

from pycorrector_spark import fixtures
from pycorrector_spark.textops import lang_id

COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

ZH_MIX_DOCS = 2000
EN_SOUP_REPLICAS = 3

DOCUMENTS_PARQUET = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet"
)
# the committed copy of the read-only sf0.1 documents table; a different
# file would silently be a different workload
DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"

_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def zh_mix(seed: int, n_docs: int = ZH_MIX_DOCS) -> pd.DataFrame:
    """zh/en/junk mix in the make_docs shape, from the in-repo pools.

    The shares (5% junk, 70% zh, 25% en; 10% long, 6% PII among non-blank
    docs) are exact counts placed by a seeded permutation, so the work per
    input varies less between seeds than independent draws would make it.
    """
    rng = np.random.default_rng([seed, 1])
    n_junk, n_zh = round(0.05 * n_docs), round(0.70 * n_docs)
    kinds = np.array(["junk"] * n_junk + ["zh"] * n_zh + ["en"] * (n_docs - n_junk - n_zh))
    kinds = kinds[rng.permutation(n_docs)]
    long_doc = rng.permutation(n_docs) < round(0.10 * n_docs)
    pii = rng.permutation(n_docs) < round(0.06 * n_docs)
    hosts = fixtures.zipf_hosts(n_docs, rng)
    rows = []
    for i, kind in enumerate(kinds):
        if kind == "junk":
            text = fixtures.JUNK_TEXTS[int(rng.integers(0, len(fixtures.JUNK_TEXTS)))]
            lang = "zh"
        elif kind == "zh":
            k = int(rng.integers(1, 9))
            sents = [fixtures.CLEAN_ZH[int(rng.integers(0, len(fixtures.CLEAN_ZH)))]
                     for _ in range(k)]
            if rng.random() < 0.4:
                j = int(rng.integers(0, k))
                sents[j], _ = fixtures.corrupt_sentence(sents[j], rng)
            text = "".join(sents)
            lang = "zh"
        else:
            k = int(rng.integers(1, 6))
            sents = [fixtures.CLEAN_EN[int(rng.integers(0, len(fixtures.CLEAN_EN)))]
                     for _ in range(k)]
            if rng.random() < 0.4:
                j = int(rng.integers(0, k))
                sents[j], _ = fixtures.corrupt_en(sents[j], rng)
            text = ". ".join(sents)
            lang = "en"
        if pii[i] and text.strip():
            text = text + " " + fixtures.PII_SNIPPETS[int(rng.integers(0, len(fixtures.PII_SNIPPETS)))]
        if long_doc[i] and text.strip():
            text = text * int(np.ceil(600 / len(text)))
        rows.append({
            "url": f"https://host{hosts[i]:02d}.example/{seed}/{i}",
            "warc_ts": _BASE_TS + dt.timedelta(seconds=17 * i),
            "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
            "text": text,
            "lang": lang,
        })
    return pd.DataFrame(rows, columns=COLUMNS)


def load_documents() -> pd.DataFrame:
    """The committed sf0.1 documents table, checked against its hash."""
    with open(DOCUMENTS_PARQUET, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if digest != DOCUMENTS_SHA256:
        raise ValueError(f"{DOCUMENTS_PARQUET}: sha256 {digest} != {DOCUMENTS_SHA256}")
    return pd.read_parquet(DOCUMENTS_PARQUET, columns=["doc_id", "text", "lang"])


def en_soup(seed: int, replicas: int = EN_SOUP_REPLICAS) -> pd.DataFrame:
    """The documents table replicated ``replicas``x, rows permuted by seed."""
    d = load_documents()
    n = len(d)
    rep = np.repeat(np.arange(replicas), n)
    doc_id = np.tile(d["doc_id"].to_numpy(), replicas)
    text = np.tile(d["text"].to_numpy(dtype=object), replicas)
    lang = np.tile(d["lang"].to_numpy(dtype=object), replicas)
    order = np.random.default_rng([seed, 2]).permutation(n * replicas)
    doc_id, rep, text, lang = doc_id[order], rep[order], text[order], lang[order]
    ts = pd.Timestamp(_BASE_TS) + pd.to_timedelta(doc_id * 17, unit="s")
    return pd.DataFrame({
        "url": [f"doc://{a}#{b}" for a, b in zip(doc_id.tolist(), rep.tolist())],
        "warc_ts": ts,
        "html": [t.encode("utf-8") for t in text],
        "text": text,
        "lang": lang,
    }, columns=COLUMNS)


def prior_half(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The seeded half of ``docs`` a prior run has already written."""
    pick = np.random.default_rng([seed, 3]).permutation(len(docs))[: len(docs) // 2]
    return docs.iloc[np.sort(pick)].reset_index(drop=True)


GENERATORS = {"zh_mix": zh_mix, "en_soup": en_soup, "resume_write": en_soup}


def make_input(workload: str, seed: int) -> pd.DataFrame:
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(GENERATORS)}")
    return GENERATORS[workload](seed)


def content_hash(docs: pd.DataFrame) -> str:
    """sha256 over (url, warc_ts, text, lang) of every row, in order."""
    h = hashlib.sha256()
    ts = docs["warc_ts"].astype("int64").astype(str)
    for row in zip(docs["url"], ts, docs["text"], docs["lang"]):
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


# zh content fragments as the detector sees them (textops.HAN_RUN_RE runs
# that contain at least one Han char); en words = whitespace tokens of the
# docs the pipeline language-IDs as en
_ZH_FRAGMENT_RE = re.compile(r"[一-龥a-zA-Z0-9+#&]*[一-龥][一-龥a-zA-Z0-9+#&]*")


def repeat_shares(docs: pd.DataFrame, ids) -> dict:
    """Share of zh fragments and en words that repeat earlier input.

    A memoisation claim on either layer must cite this: the higher the
    share, the more a per-fragment or per-word cache can save. Counted
    per distinct text times its multiplicity, so the cost follows the
    number of distinct documents, not the input size.
    """
    per_text = pd.DataFrame({"text": docs["text"].to_numpy(),
                             "lang_id": np.asarray(ids, dtype=object)})
    counts = per_text.value_counts(sort=False)
    out = {}
    for lang, name, split in (("zh", "zh_fragment", _ZH_FRAGMENT_RE.findall),
                              ("en", "en_word", str.split)):
        total, seen = 0, set()
        for (text, lid), mult in counts.items():
            if lid == lang:
                units = split(text)
                total += mult * len(units)
                seen.update(units)
        out[f"{name}s"] = total
        out[f"{name}_repeat_share"] = (total - len(seen)) / total if total else None
    return out


def lang_ids(texts: pd.Series) -> np.ndarray:
    """Per-row ``textops.lang_id``, computed once per distinct text."""
    uniq = texts.drop_duplicates()
    ids = dict(zip(uniq, (lang_id(t)[0] for t in uniq)))
    return texts.map(ids).to_numpy(dtype=object)


def describe(docs: pd.DataFrame, ids) -> dict:
    """Input size, language mix and repetition for the run record;
    ``ids`` are the per-row ``lang_ids``."""
    ids = pd.Series(np.asarray(ids, dtype=object))
    return {
        "n_docs": int(len(docs)),
        "content_sha256": content_hash(docs),
        "text_bytes": int(docs["text"].str.encode("utf-8").str.len().sum()),
        "html_bytes": int(docs["html"].str.len().sum()),
        "lang_label_mix": {k: int(v) for k, v in docs["lang"].value_counts().sort_index().items()},
        "lang_id_mix": {k: int(v) for k, v in ids.value_counts().sort_index().items()},
        **repeat_shares(docs, ids),
    }
