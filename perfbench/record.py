"""What ran: artifact fingerprint, config hash, host facts.

Everything here is read-only introspection for the run record, so that a
reader can tell from the record alone which artifacts, config and host
produced a number.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import pickle
import subprocess

import numpy as np


def _canonical(obj, h) -> None:
    """Feed a content-only, process-independent encoding of ``obj`` to h.

    Sets and dicts are hashed in sorted order (string hashing is salted
    per process, so their iteration order is not stable), numpy arrays by
    dtype, shape and bytes, plain objects by their sorted attributes.
    """
    if isinstance(obj, dict):
        h.update(b"{")
        for k in sorted(obj, key=repr):
            h.update(repr(k).encode())
            _canonical(obj[k], h)
        h.update(b"}")
    elif isinstance(obj, (set, frozenset)):
        h.update(b"<")
        for item in sorted(obj, key=repr):
            _canonical(item, h)
        h.update(b">")
    elif isinstance(obj, (list, tuple)):
        h.update(b"[")
        for item in obj:
            _canonical(item, h)
        h.update(b"]")
    elif isinstance(obj, np.ndarray):
        h.update(f"nd{obj.dtype.str}{obj.shape}".encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    elif dataclasses.is_dataclass(obj):
        _canonical(dataclasses.asdict(obj), h)
    elif hasattr(obj, "__dict__"):
        h.update(type(obj).__qualname__.encode())
        _canonical(vars(obj), h)
    else:
        h.update(repr(obj).encode())


def _rows(value):
    """Row count of one artifact field (entries of a table / model)."""
    if value is None:
        return 0
    if hasattr(value, "__len__"):
        return len(value)
    if hasattr(value, "vocab") and hasattr(value, "keys"):  # CharNgramLM
        return len(value.vocab) + sum(len(k) for k in value.keys.values())
    if hasattr(value, "keys") and isinstance(getattr(value, "keys"), np.ndarray):  # DeletesIndex
        return int(len(value.keys))
    return 1


def artifacts_fingerprint(art) -> dict:
    """Per-dim row counts, pickled size and a content sha256.

    The per-build ``token`` (a random uuid) is excluded from the hash, so
    the same dims give the same fingerprint in every process.
    """
    fields = {k: v for k, v in vars(art).items() if k not in ("token", "cfg")}
    h = hashlib.sha256()
    _canonical(fields, h)
    return {
        "rows": {k: _rows(v) for k, v in sorted(fields.items())},
        "lm_order": int(art.lm.order),
        "pickled_bytes": len(pickle.dumps(art, protocol=pickle.HIGHEST_PROTOCOL)),
        "sha256": h.hexdigest(),
        # the production default is toy dims whenever the reference data
        # files are absent: empty same-pinyin/stroke/name tables
        "flavor": "full" if art.proper is not None else "toy",
    }


def config_hash(cfg) -> str:
    h = hashlib.sha256()
    _canonical(cfg, h)
    return h.hexdigest()


def git_commit(root: str):
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def loadavg() -> list:
    return [round(x, 2) for x in os.getloadavg()]
