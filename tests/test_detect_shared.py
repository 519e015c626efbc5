"""Differential tests for the production zh detection path.

``process_batch`` passes one per-document map to ``Corrector.detect`` and
``Corrector.correct`` (each fragment detected once per document, LM char
outliers from ``lm.model.window_outliers_batch``). The argument-free calls
and ``golden_row`` stay on the scalar per-fragment path; these tests pin
the two paths to each other, and the batched outlier scan to the scalar
``mad_outlier_indices(window_avg_scores(s))`` bit for bit.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pycorrector_spark.fixtures import CLEAN_ZH, JUNK_TEXTS, make_docs
from pycorrector_spark.lm import model as lm_model
from pycorrector_spark.lm.model import (
    OUTLIER_CELL_CAP,
    CharNgramLM,
    mad_outlier_indices,
    outlier_chunks,
    window_outliers_batch,
)
from pycorrector_spark.refimpl.golden import golden_row
from pycorrector_spark.textops import split_sentences_by_symbol

ZH_CHARS = sorted(set("".join(CLEAN_ZH)) - set("，。！？；：、"))

# CJK from the fixture pools (in- and out-of-LM), latin in both cases and
# fullwidth, İ (its lower() is 2 chars, shifting later offsets), symbols
TEXT = st.text(
    alphabet=st.sampled_from(
        ZH_CHARS[:60] + list("龘鱻麤") + list("abcXYZ019 +#&.,!?-_")
        + list("ＡＢＣａｂｃ０１") + ["İ"] + list("，。！？；：")
    ),
    max_size=60,
)
FRAGMENT = st.text(alphabet=st.sampled_from(ZH_CHARS[:40] + ["龘"]), max_size=40)


def scalar_outliers(lm: CharNgramLM, sentences):
    out = []
    for s in sentences:
        scores = lm.window_avg_scores(s)
        out.append([] if scores is None else mad_outlier_indices(scores))
    return out


def shared_calls(zh, text):
    shared = {}
    dets = zh.detect(text, shared)
    return dets, zh.correct(text, shared=shared)


def golden_view(dets, res):
    """(errors, corrected_text, corrections) in golden_row's shape."""
    return (
        [{"word": w, "begin": b, "end": e, "type": ty} for w, b, e, ty in dets],
        res["target"],
        [{"error_word": w, "correct_word": c, "pos": p} for w, c, p in res["errors"]],
    )


SPECIAL_TEXTS = [
    "", " ", "。", "!!!???...", "，，，", "我", "我们", "我们好",
    "ＡＢＣ我们好ＤＥＦ", "ABC少先队员应该为老人让坐XYZ", "İ少先队员应该为老人让坐",
    "İİ你好！我是张爱文。İ", "ｈｅｌｌｏ，真麻烦你了。", "我的的的的的的的的的的的",
    "少先队员因该为老人让座，我听说你找到新工作。",
] + list(JUNK_TEXTS)


@pytest.mark.parametrize("text", SPECIAL_TEXTS)
def test_shared_equals_unshared_special(zh, text):
    dets, res = shared_calls(zh, text)
    assert dets == zh.detect(text)
    assert res == zh.correct(text)


def test_shared_equals_unshared_and_golden_on_docs(full_workers):
    zh, en = full_workers
    docs = make_docs(n_docs=120, seed=5)
    n_zh = 0
    for text in docs["text"]:
        dets, res = shared_calls(zh, text)
        assert dets == zh.detect(text)
        assert res == zh.correct(text)
        g = golden_row(text, zh, en)
        if g["lang_id"] == "zh" and g["errors"] is not None:
            n_zh += 1
            assert golden_view(dets, res) == (
                g["errors"], g["corrected_text"], g["corrections"]
            )
    assert n_zh > 30  # the zh path really ran


@settings(max_examples=150, deadline=None)
@given(TEXT)
def test_shared_equals_unshared_fuzz(zh, text):
    dets, res = shared_calls(zh, text)
    assert dets == zh.detect(text)
    assert res == zh.correct(text)


def test_shared_map_is_reused_by_correct(zh):
    """correct() detects only the raw fragments detect() did not see."""
    text = "ＡＢ少先队员应该为老人让坐，真麻烦你了。"
    shared = {}
    zh.detect(text, shared)
    seen = set(shared)
    zh.correct(text, shared=shared)
    raw = {(idx, sent) for sent, idx in split_sentences_by_symbol(text)}
    assert raw & seen                      # the CJK fragments were reused
    assert set(shared) - seen == raw - seen  # only the rest was added


# -- batched LM char outliers vs the scalar composition ---------------------


def test_batch_outliers_fixed_cases(zh):
    frags = ["", "我", "我们", "我们好", "的的的的的的", "龘龘龘龘", "我的的的的的的的的的的的",
             "少先队员因该为老人让座", "下个星期我跟我朋友打算去法国玩儿"]
    assert window_outliers_batch(zh.lm, frags) == scalar_outliers(zh.lm, frags)
    assert window_outliers_batch(zh.lm, []) == []


def test_batch_outliers_include_mad_zero_rows(zh):
    """Rows whose MAD is 0 flag nothing, next to rows that flag something."""
    lm = zh.lm
    flat = "的的的的的的的"
    assert np.median(np.abs(lm.window_avg_scores(flat) - np.median(lm.window_avg_scores(flat)))) == 0
    frags = [flat, "少先队员应该为老人让坐", flat + flat, "的的的的的的的我"]
    want = scalar_outliers(lm, frags)
    assert want[0] == [] and any(want)
    assert window_outliers_batch(lm, frags) == want


@settings(max_examples=150, deadline=None)
@given(st.lists(FRAGMENT, max_size=25), st.sampled_from([OUTLIER_CELL_CAP, 64, 1]))
def test_batch_outliers_match_scalar_fuzz(zh, frags, cap):
    # small caps force one chunk per row or per few rows
    with mock.patch.object(lm_model, "OUTLIER_CELL_CAP", cap):
        assert window_outliers_batch(zh.lm, frags) == scalar_outliers(zh.lm, frags)


@settings(max_examples=100, deadline=None)
@given(st.lists(FRAGMENT.filter(lambda s: len(s) >= 2), min_size=1, max_size=12))
def test_window_score_rows_bitwise(zh, frags):
    """The padded 2-D window scores equal window_avg_scores row by row,
    compared as raw float64 bits."""
    lm = zh.lm
    ids = lm.encode("".join(frags))
    lens = np.array([len(f) for f in frags])
    off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    u = lm.uni(ids)
    c2 = lm.cond2(ids[:-1], ids[1:])
    w3 = u[:-2] + c2[:-1] + lm.cond3(ids[:-2], ids[1:-1], ids[2:]) if len(ids) >= 3 else None
    got, valid = lm_model._window_score_rows(u[:-1] + c2, w3, off, lens)
    for r, f in enumerate(frags):
        want = lm.window_avg_scores(f)
        assert valid[r].sum() == len(f)
        assert got[r, : len(f)].view(np.uint64).tolist() == want.view(np.uint64).tolist()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(st.floats(-30, 0, allow_nan=False), min_size=1, max_size=9),
                min_size=1, max_size=6))
def test_row_medians_bitwise(rows):
    lens = np.array([len(r) for r in rows])
    x = np.full((len(rows), lens.max()), np.inf)
    for i, r in enumerate(rows):
        x[i, : len(r)] = r
    got = lm_model._row_medians(x, lens)
    want = np.array([np.median(r) for r in rows])
    assert got.view(np.uint64).tolist() == want.view(np.uint64).tolist()


def test_row_medians_nan_row():
    x = np.array([[1.0, np.nan, 3.0], [2.0, 1.0, np.inf]])
    got = lm_model._row_medians(x, np.array([3, 2]))
    assert np.isnan(got[0]) and np.isnan(np.median([1.0, np.nan, 3.0]))
    assert got[1] == np.median([2.0, 1.0])


# -- memory bound ------------------------------------------------------------


def _pathological_doc():
    rng = np.random.default_rng(3)
    pool = np.array(ZH_CHARS)
    run = "".join(rng.choice(pool, 50_000))
    shorts = ["".join(rng.choice(pool, int(k))) for k in rng.integers(0, 4, 2_000)]
    return run + "，" + "，".join(shorts)


def test_outlier_chunks_respect_cap():
    lens = np.sort(np.array([50_000] + [1, 2, 3] * 700 + [40] * 300))
    chunks = outlier_chunks(lens, OUTLIER_CELL_CAP)
    assert sum(c.stop - c.start for c in chunks) == len(lens)
    for c in chunks:
        rows = c.stop - c.start
        assert rows * (int(lens[c].max()) + 5) <= OUTLIER_CELL_CAP
    # a row wider than the cap on its own is its own chunk
    wide = outlier_chunks(np.array([3, 3, 70_000]), cap=1000)
    assert [(c.start, c.stop) for c in wide] == [(0, 2), (2, 3)]


def test_pathological_document_stays_under_cap(zh, monkeypatch):
    """One 50k-char CJK run plus 2,000 fragments of length 0-3: every
    padded 2-D array of the batched scan holds at most OUTLIER_CELL_CAP
    cells, and detection equals the scalar path. (correct() is left out:
    each suspect in the 50k run re-ranks 50k-char candidate texts on both
    paths, which is slow, not different.)"""
    text = _pathological_doc()
    cells = []
    row_windows, row_medians = lm_model._row_windows, lm_model._row_medians

    def spy_windows(wn, n, off, lens, width):
        out = row_windows(wn, n, off, lens, width)
        cells.append(len(lens) * (width + 2 * (n - 1) + 1))
        return out

    def spy_medians(x, lens):
        cells.append(x.size)
        return row_medians(x, lens)

    monkeypatch.setattr(lm_model, "_row_windows", spy_windows)
    monkeypatch.setattr(lm_model, "_row_medians", spy_medians)
    frags = [s for s, _ in split_sentences_by_symbol(text)]
    assert max(map(len, frags)) == 50_000 and len(frags) > 2_000
    assert window_outliers_batch(zh.lm, frags) == scalar_outliers(zh.lm, frags)
    assert cells and max(cells) <= OUTLIER_CELL_CAP

    shared = {}
    assert zh.detect(text, shared) == zh.detect(text)
