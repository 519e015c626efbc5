"""KenLM PROBING binaries: header diagnostics, the payload decoder and
the exporters' refusal of hash-keyed models.

Contract: a model decoded from a ``.klm`` keys its sorted tables by
KenLM's CombineWordHash and must score exactly like the id-keyed model
with its values rounded through float32 (``model.float32_rounded``), bit
for bit, on every scoring entry point."""

import struct

import numpy as np
import pytest

from pycorrector_spark.fixtures import PPL_POOL, lm_corpus
from pycorrector_spark.lm import binary
from pycorrector_spark.lm.binary import (
    KENLM_MAGIC,
    KenLMProbingLM,
    load_kenlm_probing,
    read_kenlm_header,
    write_kenlm_probing,
)
from pycorrector_spark.lm.model import (
    _unpack_cols,
    float32_rounded,
    load_arpa,
    to_arpa_lines,
    train_char_lm,
    window_outliers_batch,
)
from pycorrector_spark.textops import uniform


@pytest.fixture(scope="module")
def lm():
    return train_char_lm(lm_corpus(), order=5)


@pytest.fixture(scope="module")
def klm_path(lm, tmp_path_factory):
    p = tmp_path_factory.mktemp("klm") / "model.klm"
    write_kenlm_probing(lm, str(p))
    return str(p)


@pytest.fixture(scope="module")
def klm(klm_path):
    return load_kenlm_probing(klm_path)


@pytest.fixture(scope="module")
def q32(lm):
    return float32_rounded(lm)


TEXTS = [t for t in PPL_POOL if t.strip()][:24]


def _scores(model):
    return model.ppl_batch(TEXTS)


# the gate pool as the pipeline scores it, plus empty, 1-char and
# OOV-only texts
DIFF_TEXTS = [uniform(t) for t in PPL_POOL] + ["", "的", "ΩΨ漢拏"]


def _bits(values):
    """IEEE-754 bit patterns: equal only if bit for bit (NaN, -0.0 too)."""
    return np.asarray(values, dtype=np.float64).view(np.uint64).tolist()


def test_roundtrip_bitwise(lm, klm, q32, klm_path, tmp_path):
    """id-keyed model -> .klm -> hash-keyed model scores exactly like the
    float32-rounded id-keyed model, and that rounded model is a fixed
    point of the trip: writing it gives the same file bytes."""
    assert isinstance(klm, KenLMProbingLM) and klm.bit_exact is False
    p = tmp_path / "q32.klm"
    write_kenlm_probing(q32, str(p))
    assert p.read_bytes() == open(klm_path, "rb").read()
    assert klm.vocab == lm.vocab and klm.order == lm.order
    got = _bits(klm.ppl_batch(DIFF_TEXTS))
    assert got == _bits(q32.ppl_batch(DIFF_TEXTS))
    # float32 rounding moves the scores, so the equality above is not vacuous
    assert got != _bits(lm.ppl_batch(DIFF_TEXTS))


def test_oov_and_unseen_grams_backoff(lm, klm, q32):
    # OOV chars map to <unk> in both models; unseen grams back off alike
    assert np.all(klm.encode("ΩΨ漢拏") == 0)
    got = [klm.score_chars(t, bos=True, eos=True) for t in DIFF_TEXTS]
    assert _bits(got) == _bits([q32.score_chars(t, bos=True, eos=True) for t in DIFF_TEXTS])
    assert _bits(got) != _bits([lm.score_chars(t, bos=True, eos=True) for t in DIFF_TEXTS])


def test_probing_and_sorted_probe_hooks_agree(lm, klm, q32):
    """The PROBING-decoded model (``_key`` = KenLM hash) and the id-keyed
    model (``_key`` = packed ids) run the same sorted probe; only the key
    hook differs. The detector's window scorers, which exercise cond2/cond3
    backoff, must agree bit for bit."""
    moved = False
    for t in DIFF_TEXTS:
        a, b = klm.window_avg_scores(t), q32.window_avg_scores(t)
        assert (a is None) == (b is None)
        if a is not None:
            assert _bits(a) == _bits(b)
            moved |= _bits(a) != _bits(lm.window_avg_scores(t))
    assert moved
    assert window_outliers_batch(klm, DIFF_TEXTS) == window_outliers_batch(q32, DIFF_TEXTS)


def test_arpa_binary_arpa_chain_bitwise(lm, q32, tmp_path):
    # ARPA -> model -> .klm -> model: the ARPA hop is exact, the binary
    # hop is exactly the float32 rounding
    lines = to_arpa_lines(lm)
    via_arpa = load_arpa(lines)
    assert _bits(via_arpa.ppl_batch(DIFF_TEXTS)) == _bits(lm.ppl_batch(DIFF_TEXTS))
    assert _bits(via_arpa.ppl_batch(TEXTS)) == _bits(lm.ppl_batch(TEXTS))
    # the rebuilt model exports the very same lines
    assert to_arpa_lines(via_arpa) == lines
    p = tmp_path / "via_arpa.klm"
    write_kenlm_probing(via_arpa, str(p))
    got = _bits(load_kenlm_probing(str(p)).ppl_batch(DIFF_TEXTS))
    assert got == _bits(q32.ppl_batch(DIFF_TEXTS))


def _unpack_scalar(key: int, n: int, base: int):
    """Per-key reference decoder: n ids, oldest first, by Python-int divmod."""
    ids = []
    for _ in range(n):
        key, r = divmod(int(key), base)
        ids.append(r)
    return ids[::-1]


def test_unpack_cols_matches_scalar_decoder(lm):
    # every stored key of every order decodes to the same ids as the
    # per-key divmod reference, so to_arpa_lines and write_kenlm_probing
    # see the grams the model was trained with
    for n in range(2, lm.order + 1):
        keys = lm.keys[n]
        cols = _unpack_cols(keys, n, lm.base)
        got = [list(ids) for ids in zip(*(c.tolist() for c in cols))]
        assert got == [_unpack_scalar(k, n, lm.base) for k in keys.tolist()]
    huge = np.array([lm.base ** 5 - 1, 0, lm.base ** 4], dtype=np.int64)
    cols = _unpack_cols(huge, 5, lm.base)
    assert [list(ids) for ids in zip(*(c.tolist() for c in cols))] == [
        _unpack_scalar(k, 5, lm.base) for k in huge.tolist()
    ]


def test_save_rejects_nothing_loads_garbage(tmp_path):
    p = tmp_path / "garbage.bin"
    p.write_bytes(b"not a model at all, definitely")
    with pytest.raises(ValueError):
        load_kenlm_probing(str(p))


def test_kenlm_duplicate_key_raises(lm, klm_path, tmp_path):
    """A .klm whose 2-gram table holds one key in two slots is malformed:
    the loader must refuse it, not keep either entry silently."""
    info = read_kenlm_header(klm_path)
    counts, mult = info["counts"], info["probing_multiplier"]
    off = (
        info["data_offset"] + 8
        + binary._VOCAB_ENTRY.itemsize * binary._probing_buckets(counts[0], mult)
        + binary._UNI_ENTRY.itemsize * (counts[0] + 2)
    )
    buckets = binary._probing_buckets(counts[1], mult)
    raw = bytearray(open(klm_path, "rb").read())
    size = binary._MID_ENTRY.itemsize * buckets
    table = np.frombuffer(bytes(raw[off:off + size]), dtype=binary._MID_ENTRY).copy()
    full, empty = np.flatnonzero(table["key"] != 0), np.flatnonzero(table["key"] == 0)
    assert len(full) == counts[1] and len(empty)
    table[empty[0]] = table[full[0]]
    raw[off:off + size] = table.tobytes()
    p = tmp_path / "dup.klm"
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="duplicate"):
        load_kenlm_probing(str(p))


def test_to_arpa_lines_refuses_hash_keyed(klm):
    with pytest.raises(ValueError, match="hash"):
        to_arpa_lines(klm)


def test_write_kenlm_probing_refuses_hash_keyed(klm, tmp_path):
    p = tmp_path / "again.klm"
    with pytest.raises(ValueError, match="hash"):
        write_kenlm_probing(klm, str(p))
    assert not p.exists()


def _write_fake_header(p, model_type: int):
    with open(p, "wb") as f:
        f.write(KENLM_MAGIC)
        pad = (-f.tell()) % 4
        f.write(b"\0" * pad)
        f.write(struct.pack("<fff", 0.0, 1.0, -0.5))
        f.write(struct.pack("<II", 1, 4294967295))
        f.write(b"\0" * ((-f.tell()) % 8))
        f.write(struct.pack("<Q", 1))
        f.write(struct.pack("<B", 5))
        f.write(b"\0" * ((-f.tell()) % 4))
        f.write(struct.pack("<f", 1.5))
        f.write(struct.pack("<i", model_type))
        f.write(struct.pack("<B", 1))
        f.write(b"\0" * ((-f.tell()) % 4))
        f.write(struct.pack("<I", 0))
        f.write(struct.pack("<5Q", 100, 200, 300, 400, 500))


def test_kenlm_header_parse_and_payload_boundary(tmp_path):
    """Synthesize a genuine-layout KenLM header (published Sanity +
    FixedWidthParameters structs): the parser decodes every field;
    non-PROBING model types raise the documented conversion error; a
    truncated PROBING payload fails loudly."""
    p = tmp_path / "fake.klm"
    _write_fake_header(p, model_type=0)  # PROBING
    info = read_kenlm_header(str(p))
    assert info["sane"] and info["order"] == 5
    assert info["model_type"] == "PROBING"
    assert info["counts"] == [100, 200, 300, 400, 500]
    assert info["probing_multiplier"] == pytest.approx(1.5)

    # header-only file: payload decode must fail loudly, not return junk
    with pytest.raises((ValueError, struct.error)):
        load_kenlm_probing(str(p))

    t = tmp_path / "trie.klm"
    _write_fake_header(t, model_type=2)  # TRIE
    with pytest.raises(NotImplementedError) as ei:
        load_kenlm_probing(str(t))
    assert "TRIE" in str(ei.value)

    q = tmp_path / "not_klm.bin"
    q.write_bytes(b"\\data\\\nngram 1=3\n")
    with pytest.raises(ValueError):
        read_kenlm_header(str(q))


def test_kenlm_probing_payload_roundtrip_scores(lm, klm_path):
    """A real-layout PROBING binary (written by this module's
    build_binary workalike from the fixture LM) loads through the genuine
    payload decoder and reproduces the float64 model's scores to float32
    tolerance — the disclosed bit_exact=False contract."""
    m = load_kenlm_probing(klm_path)
    assert isinstance(m, KenLMProbingLM) and m.bit_exact is False
    assert m.order == lm.order
    assert int(m.bos_id) == 1 and int(m.eos_id) == 2
    got, want = _scores(m), _scores(lm)
    np.testing.assert_allclose(got, want, rtol=2e-4)
    # per-sentence raw log10 scores too (ppl exponentiation can hide sign
    # errors on short strings)
    for t in TEXTS[:8]:
        a = m.score_chars(t, bos=True, eos=True)
        b = lm.score_chars(t, bos=True, eos=True)
        assert a == pytest.approx(b, rel=2e-4, abs=1e-3)


def test_kenlm_probing_header_fields(lm, klm_path):
    info = read_kenlm_header(klm_path)
    assert info["sane"] and info["model_type"] == "PROBING"
    assert info["order"] == lm.order
    assert info["counts"][0] == lm.base
    assert info["counts"][1:] == [len(lm.keys.get(n, ())) for n in
                                  range(2, lm.order + 1)]
    assert info["has_vocabulary"]


def test_kenlm_probing_oov_and_unk(lm, klm_path):
    """OOV chars miss the vocab probing table and fall to <unk> id 0 —
    same path a genuine kenlm query takes."""
    m = load_kenlm_probing(klm_path)
    oov = "\N{SNOWMAN}"
    assert np.all(m.encode(oov) == 0)
    assert np.isfinite(m.perplexity_chars(oov + "的"))


def test_kenlm_insane_header_refuses_to_load(lm, tmp_path):
    """A .klm whose Sanity reference values fail (ABI-incompatible
    producer) must raise instead of decoding the payload into silent
    garbage perplexities."""
    p = tmp_path / "insane.klm"
    write_kenlm_probing(lm, str(p))
    raw = bytearray(p.read_bytes())
    # locate the Sanity block's (0.0f, 1.0f, -0.5f) reference floats,
    # then corrupt the u64 reference ONE that follows (float reads stay
    # aligned, so the header still parses and reports sane=False)
    pat = struct.pack("<fff", 0.0, 1.0, -0.5)
    i = raw.find(pat)
    assert i > 0
    pos = i + len(pat) + 8          # skip one_word + max_word
    pos += (-pos) % 8               # word-align like the reader
    assert struct.unpack_from("<Q", raw, pos)[0] == 1
    raw[pos] = 0x02
    p.write_bytes(bytes(raw))
    assert read_kenlm_header(str(p))["sane"] is False
    with pytest.raises(ValueError, match="[Ss]anity"):
        load_kenlm_probing(str(p))
