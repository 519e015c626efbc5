"""LM contract tests — the KenLM-equivalent semantics the detector relies on
(reference detector.py:268-284, tests/kenlm_test.py).
"""

import numpy as np
import pytest

from pycorrector_spark.fixtures import lm_corpus
from pycorrector_spark.lm.model import mad_outlier_indices, train_char_lm


@pytest.fixture(scope="module")
def lm():
    return train_char_lm(lm_corpus())


def test_training_deterministic():
    a = train_char_lm(lm_corpus())
    b = train_char_lm(lm_corpus())
    assert a.vocab == b.vocab
    np.testing.assert_array_equal(a.keys[3], b.keys[3])
    np.testing.assert_array_equal(a.p[3], b.p[3])


def test_score_is_sum_of_log10_probs(lm):
    # probabilities, so scores are negative and longer strings score lower
    s = "少先队员应该为老人让座"
    sc = lm.score_chars(s)
    assert sc < 0.0
    assert lm.score_chars(s + s) < sc


def test_score_empty(lm):
    assert lm.score_chars("") == 0.0


def test_ppl_plus_one_token_convention(lm):
    # ppl = 10^(-score(bos,eos)/(n+1)) — kenlm's </s> counts as a token
    # (reference tests/kenlm_test.py:46-49: full_scores yields len+1 entries)
    s = "我的家乡是有名的鱼米之乡"
    total = lm.score_chars(s, bos=True, eos=True)
    expect = 10.0 ** (-total / (len(s) + 1))
    assert lm.perplexity_chars(s) == pytest.approx(expect, rel=1e-12)


def test_ppl_batch_bitwise_matches_scalar(lm):
    texts = ["少先队员应该为老人让座", "中国人工智能布局很不错", "abc", "一"]
    batch = lm.ppl_batch(texts)
    for t, b in zip(texts, batch):
        assert float(b) == lm.perplexity_chars(t)


def test_clean_scores_lower_ppl_than_corrupted(lm):
    # reference detector_test.py:78-89 asserts exactly this ordering
    clean = "少先队员应该为老人让座"
    corrupt = "少先队员因该为老人让坐"
    assert lm.perplexity_chars(clean) < lm.perplexity_chars(corrupt)


def test_oov_hits_unk_not_crash(lm):
    p = lm.perplexity_chars("ᚠᚢᚦ")  # runes: all OOV
    assert np.isfinite(p) and p > 0


def test_window_avg_scores_shape_and_identity(lm):
    s = "我的家乡是有名的鱼米之乡"
    scores = lm.window_avg_scores(s)
    assert scores is not None and len(scores) == len(s)
    # identity check: window scores derive from the same conditionals as
    # score_chars over each n-gram
    ids = lm.encode(s)
    w2_direct = np.array(
        [lm.score_chars(s[i:i + 2]) for i in range(len(s) - 1)]
    )
    w2_vec = lm.uni(ids[:-1]) + lm.cond2(ids[:-1], ids[1:])
    np.testing.assert_allclose(w2_vec, w2_direct, rtol=1e-12)


def test_window_avg_too_short_returns_none(lm):
    assert lm.window_avg_scores("一") is None
    assert lm.window_avg_scores("") is None


def test_corrupted_char_scores_below_neighbors(lm):
    clean = "一只小渔船浮在平静的河面上"
    corrupt = clean.replace("静", "净")
    sc = lm.window_avg_scores(corrupt)
    i = corrupt.index("净")
    flagged = mad_outlier_indices(sc)
    assert i in flagged


def test_mad_outlier_rule():
    # flags only low-side outliers beyond 2 MADs (detector.py:330-355)
    scores = np.array([-1.0, -1.1, -0.9, -1.05, -9.0])
    assert mad_outlier_indices(scores) == [4]
    # high-side outlier is NOT flagged
    scores_hi = np.array([-1.0, -1.1, -0.9, -1.05, 5.0])
    assert mad_outlier_indices(scores_hi) == []
    # zero MAD -> no flags
    assert mad_outlier_indices(np.array([1.0, 1.0, 1.0])) == []


def test_train_char_lm_rejects_min_count():
    import pytest

    from pycorrector_spark.lm.model import train_char_lm

    with pytest.raises(ValueError):
        train_char_lm(["abc"], min_count=2)


# ---------------------------------------------------------------------------
# ARPA interchange (S10: KenLM-compatible model source)
# ---------------------------------------------------------------------------


def test_load_arpa_hand_computed_backoff():
    """Tiny hand-written ARPA: probe hits and backoff paths against
    hand-computed log10 sums (ARPA backoff: unseen n-gram ->
    bow(context) + p(shorter context))."""
    from pycorrector_spark.lm.model import load_arpa

    arpa = """\\data\\
ngram 1=5
ngram 2=3
ngram 3=1

\\1-grams:
-1.0\t<unk>
-0.9\t<s>\t-0.30103
-0.8\t</s>
-0.5\t甲\t-0.2
-0.7\t乙\t-0.1

\\2-grams:
-0.4\t<s> 甲\t-0.05
-0.3\t甲 乙
-0.6\t乙 </s>

\\3-grams:
-0.2\t<s> 甲 乙

\\end\\
""".splitlines()
    lm = load_arpa(arpa)
    # direct bigram hit
    assert abs(lm.score_chars("甲乙") - (-0.5 + -0.3)) < 1e-12
    # backoff: (乙,甲) unseen -> bow1(乙) + p1(甲) = -0.1 + -0.5
    assert abs(lm.score_chars("乙甲") - (-0.7 + (-0.1 + -0.5))) < 1e-12
    # trigram hit with bos: p(甲|<s>) + p(乙|<s>甲) ; eos: p(</s>|甲 乙)
    # (甲,乙,</s>) unseen -> bow2(甲乙)=0 + p(</s>|乙) = -0.6
    expect = -0.4 + -0.2 + -0.6
    assert abs(lm.score_chars("甲乙", bos=True, eos=True) - expect) < 1e-12
    # OOV char hits <unk>
    assert abs(lm.score_chars("丙") - (-1.0)) < 1e-12


def test_arpa_round_trip_matches_trained_lm():
    """train -> dump ARPA -> reload: same vocabulary, same ppl to within
    the %.7f serialization precision."""
    import numpy as np

    from pycorrector_spark.fixtures import lm_corpus
    from pycorrector_spark.lm.model import load_arpa, to_arpa_lines, train_char_lm

    lm = train_char_lm(lm_corpus())
    lm2 = load_arpa(to_arpa_lines(lm))
    assert lm2.vocab == lm.vocab
    texts = ["少先队员应该为老人让座", "the quick brown fox", "人工只能布局", ""]
    p1 = lm.ppl_batch(texts)
    p2 = lm2.ppl_batch(texts)
    assert np.allclose(p1, p2, rtol=1e-5)


def test_load_arpa_rejects_high_order_and_multichar_tokens():
    import pytest

    from pycorrector_spark.lm.model import load_arpa

    # orders above max_order (default 5) rejected
    with pytest.raises(ValueError, match="order 6"):
        load_arpa(["\\data\\", "\\6-grams:", "-1.0\ta b c d e f", "\\end\\"])
    with pytest.raises(ValueError, match="order 4"):
        load_arpa(["\\data\\", "\\4-grams:", "-1.0\ta b c d", "\\end\\"],
                  max_order=3)
    with pytest.raises(ValueError, match="single character"):
        load_arpa(["\\data\\", "\\1-grams:", "-1.0\tword", "\\end\\"])


def test_order1_model_batch_matches_score():
    """Regression: ppl_batch's order-grouped loop must score the m=0
    (no-context) group — a unigram-only ARPA model previously summed
    uninitialized memory while score_ids computed the right value."""
    from pycorrector_spark.lm.model import load_arpa

    arpa = ["\\data\\", "ngram 1=4", "", "\\1-grams:",
            "-1.0\t<unk>", "-0.9\t<s>", "-0.8\t</s>", "-0.5\t甲",
            "", "\\end\\"]
    lm = load_arpa(arpa)
    assert lm.order == 1
    ppl = float(lm.ppl_batch(["甲甲"])[0])
    want = 10 ** (-lm.score_chars("甲甲", bos=True, eos=True) / 3)
    assert abs(ppl - want) < 1e-12
