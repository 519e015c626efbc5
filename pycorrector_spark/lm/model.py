"""Backoff character n-gram language model with a vectorized scorer.

Re-expresses the KenLM query semantics the reference relies on
(/root/reference/pycorrector/detector.py:268-284, tests/kenlm_test.py):

- ``score(tokens, bos, eos)`` = sum of log10 P(w_i | longest seen context)
  with ARPA backoff: unseen n-gram -> backoff_weight(context) + P(w | shorter).
- ``perplexity(tokens)`` = 10 ** (-score(tokens, bos=True, eos=True) /
  (len(tokens) + 1)) — the +1 counts </s> (kenlm full_scores yields len+1
  entries, reference tests/kenlm_test.py:46-49).
- the detector's windowed 2/3-gram scoring (detector.py:441-461) is computed
  here via the algebraic identity
      score(s[i:i+n], bos=False, eos=False)
        = uni(s[i]) + cond2(s[i+1]) [+ cond3(s[i+2])]
  which turns O(len * n) LM probes into three vectorized probe arrays.

The model is GENERAL-ORDER (default train order 5 — the north rule's
"batched 5-gram hash + perplexity scorer"; the reference's pretrained
zh_giga model is likewise order-5). The detector's window scorer still
probes the 2/3-gram tables (detector.py:441-461 scores 2/3-char windows,
which on any higher-order ARPA model only ever touches orders <= 3 —
same as querying kenlm with short strings), while document perplexity
uses the full order.

KenLM itself is unavailable in this environment, so the model is trained
from the deterministic fixture corpus with absolute-discount backoff
smoothing (Katz/ARPA style), or loaded from standard ARPA text
(load_arpa). Both the serial reference oracle and the Spark pandas-UDF
stages score with THIS class, so their floats are bitwise identical by
construction.

Storage: per-order flat sorted int64 key arrays (n-gram ids packed in
base = |vocab|+3) + float64 probability/backoff arrays, probed with
``np.searchsorted`` — no per-row Python in the hot path; broadcast-
friendly (a plain picklable object of numpy arrays).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

LOG10_EPS = -99.0  # ARPA convention for "effectively zero"
DISCOUNT = 0.5     # absolute discount mass moved to backoff


def _pack_cols(cols, base):
    """Pack per-position id columns [c_0 ... c_{m-1}] into one int64 key
    (horner fold, vectorized)."""
    out = np.asarray(cols[0], dtype=np.int64).copy()
    for c in cols[1:]:
        out *= base
        out += c
    return out


class CharNgramLM:
    """General-order backoff char LM over int-encoded characters.

    Special ids: unk=0, bos=1, eos=2; real chars start at 3.

    ``keys[n]`` / ``p[n]``: sorted packed n-gram keys and log10 probs for
    n = 2..order; ``ctx_bow[n]``: log10 backoff weights for n-gram
    CONTEXTS (aligned with keys[n]) for n = 2..order-1; unigram prob /
    backoff live in the dense ``p1`` / ``bow1`` arrays.
    """

    def __init__(self, vocab, p1, bow1, keys, p, ctx_bow, order):
        self.vocab = vocab                      # dict char -> id (>=3)
        self.base = len(vocab) + 3
        self.order = order
        # special-token ids; genuine-KenLM loads override these (KenLM
        # assigns <s>/</s> ids by ARPA order, only <unk>=0 is fixed)
        self.bos_id = np.int64(1)
        self.eos_id = np.int64(2)
        self.p1 = p1                            # float64 [base]
        self.bow1 = bow1                        # float64 [base]
        self.keys = keys                        # {n: sorted int64}
        self.p = p                              # {n: float64}
        self.ctx_bow = ctx_bow                  # {n: float64} n=2..order-1
        # fast char->id for vectorized encode
        max_cp = max((ord(c) for c in vocab), default=0)
        self._cp_map = np.zeros(max_cp + 2, dtype=np.int32)  # default unk=0
        for ch, i in vocab.items():
            self._cp_map[ord(ch)] = i

    # ---------------- encoding ----------------

    def encode(self, text: str) -> np.ndarray:
        """char ids (unk for OOV) as int64 array."""
        if not text:
            return np.empty(0, dtype=np.int64)
        cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        ids = np.where(cps < len(self._cp_map), self._cp_map[np.minimum(cps, len(self._cp_map) - 1)], 0)
        return ids.astype(np.int64)

    # ---------------- probes (vectorized) ----------------

    def _probe(self, keys_sorted, values, query, default):
        """values[query] where present else default. Fully vectorized."""
        if len(keys_sorted) == 0:
            return np.full(len(query), default, dtype=np.float64)
        pos = np.searchsorted(keys_sorted, query)
        pos_c = np.minimum(pos, len(keys_sorted) - 1)
        hit = keys_sorted[pos_c] == query
        out = np.where(hit, values[pos_c], default)
        return out

    def uni(self, w: np.ndarray) -> np.ndarray:
        return self.p1[w]

    def cond(self, ctx_cols, w: np.ndarray) -> np.ndarray:
        """log10 P(w | context) with recursive ARPA backoff.

        ``ctx_cols``: list of m id arrays [c_{-m}, ..., c_{-1}] (oldest
        first), all the same length as ``w``; m may exceed order-1 (extra
        history is ignored).

        MISS-ONLY recursion: positions whose full-order n-gram is stored
        cost exactly one searchsorted probe; only the missing subset
        recurses to shorter contexts. On in-domain text most positions
        hit at the top order, so the effective probe count per position
        is ~1 regardless of model order (an always-evaluate chain would
        cost order(order-1)/2 probes per position)."""
        m = min(len(ctx_cols), self.order - 1)
        ctx_cols = ctx_cols[len(ctx_cols) - m:]
        if m == 0:
            return self.p1[w]
        n = m + 1
        pn = self._probe_ngram(n, list(ctx_cols) + [w])
        miss = np.isnan(pn)
        if miss.any():
            mc = [c[miss] for c in ctx_cols]
            # backoff weight of the length-m context (misses only)
            if m == 1:
                bow = self.bow1[mc[0]]
            else:
                bow = self._probe_bow(m, mc)
            pn[miss] = bow + self.cond(mc[1:], w[miss])
        return pn

    # -- probe hooks: every n-gram probe keys its id columns through
    #    ``_key`` (packed ids here; KenLM's hash in lm/binary.KenLMProbingLM,
    #    whose ``keys[n]`` are sorted hash keys) --

    def _key(self, cols) -> np.ndarray:
        """Sorted-table key of the n-grams formed by ``cols``."""
        return _pack_cols(cols, self.base)

    def _probe_ngram(self, n: int, cols) -> np.ndarray:
        """log10 prob of the n-grams formed by ``cols`` (n id arrays,
        oldest first); NaN where the gram is not stored."""
        if n not in self.keys:
            return np.full(len(cols[-1]), np.nan)
        return self._probe(self.keys[n], self.p[n], self._key(cols), np.nan)

    def _probe_bow(self, m: int, cols) -> np.ndarray:
        """log10 backoff weight of the length-m contexts (0 when absent)."""
        if m in self.keys and m in self.ctx_bow:
            return self._probe(self.keys[m], self.ctx_bow[m], self._key(cols), 0.0)
        return np.zeros(len(cols[-1]), dtype=np.float64)

    def cond2(self, v: np.ndarray, w: np.ndarray) -> np.ndarray:
        """log10 P(w | v) with backoff."""
        return self.cond([v], w)

    def cond3(self, u: np.ndarray, v: np.ndarray, w: np.ndarray) -> np.ndarray:
        """log10 P(w | u v) with recursive backoff."""
        return self.cond([u, v], w)

    # ---------------- kenlm-equivalent API ----------------

    def score_ids(self, ids: np.ndarray, bos: bool, eos: bool) -> float:
        """Sum of per-token conditional log10 probs (kenlm Model.score)."""
        seq = ids
        if bos:
            seq = np.concatenate(([self.bos_id], seq))
        if eos:
            seq = np.concatenate((seq, [self.eos_id]))
        start = 1 if bos else 0
        n = len(seq)
        if n - start <= 0:
            return 0.0
        pos = np.arange(start, n)
        out = np.empty(len(pos), dtype=np.float64)
        avail = np.minimum(pos, self.order - 1)
        for m in range(0, self.order):
            mask = avail == m
            if not mask.any():
                continue
            pm = pos[mask]
            ctx = [seq[pm - (m - j)] for j in range(m)]
            out[mask] = self.cond(ctx, seq[pm])
        return float(np.sum(out))

    def score_chars(self, chars, bos: bool = False, eos: bool = False) -> float:
        """Score a char-token sequence (list of single chars or a string)."""
        text = "".join(chars)
        return self.score_ids(self.encode(text), bos, eos)

    def perplexity_chars(self, chars) -> float:
        """kenlm Model.perplexity over char tokens.

        Routed through ``ppl_batch`` so scalar and batched calls produce
        bitwise-identical float64 results (same summation order).
        """
        return float(self.ppl_batch(["".join(chars)])[0])

    def ppl_batch(self, texts) -> np.ndarray:
        """Vectorized perplexity over many strings (one flat probe pass
        per context-length group and order level).

        Bitwise-identical to ``perplexity_chars`` per row: the per-position
        conditionals are computed by the same probe functions and summed
        per sentence with np.add.reduceat (same pairwise order as the
        np.sum over one sentence's positions).
        """
        if len(texts) == 0:
            return np.empty(0, dtype=np.float64)
        encs = [self.encode(t) for t in texts]
        lens = np.array([len(e) for e in encs], dtype=np.int64)
        # build flat sequence [bos] ids [eos] per sentence
        parts = []
        for e in encs:
            parts.append(np.concatenate(([self.bos_id], e, [self.eos_id])))
        flat = np.concatenate(parts)
        seq_lens = lens + 2
        starts = np.concatenate(([0], np.cumsum(seq_lens)[:-1]))
        # positions to score: all except the bos at each start
        total_pos = int(np.sum(seq_lens - 1))
        pos = np.empty(total_pos, dtype=np.int64)
        row = np.empty(total_pos, dtype=np.int64)
        o = 0
        for r, (s, L) in enumerate(zip(starts, seq_lens)):
            k = L - 1
            pos[o: o + k] = np.arange(s + 1, s + L)
            row[o: o + k] = r
            o += k
        w = flat[pos]
        local = pos - starts[row]       # how much context exists to the left
        avail = np.minimum(local, self.order - 1)
        out = np.empty(total_pos, dtype=np.float64)
        # m=0 included: for an order-1 model every position is context-free
        # (avail==0) and must still be scored via the unigram table — a loop
        # starting at 1 would leave `out` as uninitialized np.empty garbage
        for m in range(0, self.order):
            mask = avail == m
            if not mask.any():
                continue
            pm = pos[mask]
            ctx = [flat[pm - (m - j)] for j in range(m)]
            out[mask] = self.cond(ctx, w[mask])
        # reduce per row
        row_starts = np.concatenate(([0], np.cumsum(seq_lens - 1)[:-1]))
        sums = np.add.reduceat(out, row_starts)
        return 10.0 ** (-sums / (lens + 1))

    # ---------------- detector window scoring ----------------

    def window_avg_scores(self, sentence: str):
        """Per-char averaged 2/3-gram scores — reference detector.py:441-461.

        Returns float64 array of len(sentence), or None when the sentence is
        too short for both n=2 and n=3 windows (len < 2).
        """
        ids = self.encode(sentence)
        L = len(ids)
        per_n = []
        if L >= 2:
            u = self.uni(ids)
            c2 = self.cond2(ids[:-1], ids[1:])          # cond2[i] = P(s[i+1]|s[i])
            w2 = u[:-1] + c2                             # score of s[i:i+2]
            per_n.append(self._pad_and_average(w2, 2, L))
        if L >= 3:
            c3 = self.cond3(ids[:-2], ids[1:-1], ids[2:])  # P(s[i+2]|s[i],s[i+1])
            w3 = u[:-2] + c2[:-1] + c3                      # score of s[i:i+3]
            per_n.append(self._pad_and_average(w3, 3, L))
        if not per_n:
            return None
        return np.average(np.array(per_n), axis=0)

    @staticmethod
    def _pad_and_average(scores: np.ndarray, n: int, sent_len: int) -> np.ndarray:
        """Edge-pad by repeating first/last score (n-1 times each side),
        then mean over sliding windows of size n — detector.py:452-456."""
        padded = np.concatenate((
            np.repeat(scores[0], n - 1),
            scores,
            np.repeat(scores[-1], n - 1),
        ))
        # windows i..i+n-1 for i in range(sent_len); all full by construction
        csum = np.concatenate(([0.0], np.cumsum(padded)))
        return (csum[n:n + sent_len] - csum[:sent_len]) / float(n)


MAD_RATIO = 0.6745
MAD_THRESHOLD = 2.0


def mad_outlier_indices(scores: np.ndarray, ratio: float = MAD_RATIO, threshold: float = MAD_THRESHOLD):
    """Median-absolute-deviation outlier test — reference detector.py:330-355.

    Flags i where ratio*|s_i - median|/MAD > threshold AND s_i < median.
    """
    scores = np.asarray(scores, dtype=np.float64)
    median = np.median(scores)
    margin = np.abs(scores - median)
    mad = np.median(margin)
    if mad == 0:
        return []
    y = ratio * margin / mad
    idx = np.where((y > threshold) & (scores < median))[0]
    return [int(i) for i in idx]


# Most cells (rows x padded row width) one 2-D array of
# ``window_outliers_batch`` may hold. A fragment wider than this on its own
# gets a chunk of one row: the same footprint as the scalar path.
OUTLIER_CELL_CAP = 1 << 16
# padded row width = fragment length + this: the 3-gram window row carries
# 2 edge-pad cells per side plus the cumsum's leading zero
_ROW_PAD = 5


def outlier_chunks(lengths, cap: int):
    """Slices cutting ascending ``lengths`` into consecutive chunks with
    ``rows * (max length + _ROW_PAD) <= cap``; a row that alone exceeds
    ``cap`` is a chunk by itself."""
    chunks, start = [], 0
    for j, n in enumerate(lengths):
        if j > start and (j - start + 1) * (int(n) + _ROW_PAD) > cap:
            chunks.append(slice(start, j))
            start = j
    if len(lengths):
        chunks.append(slice(start, len(lengths)))
    return chunks


def _row_windows(wn: np.ndarray, n: int, off: np.ndarray, lens: np.ndarray, width: int):
    """Row r, columns < lens[r]: ``CharNgramLM._pad_and_average`` of the
    n-gram scores ``wn[off[r] : off[r] + lens[r] - n + 1]``. The edge-padded
    rows are gathered by index and the cumsum runs along each row, so every
    row is the 1-D computation bit for bit; columns past a row's length
    hold junk."""
    k = np.arange(width + 2 * (n - 1))
    padded = wn[off[:, None] + np.clip(k - (n - 1), 0, (lens - n)[:, None])]
    csum = np.zeros((len(lens), padded.shape[1] + 1))
    np.cumsum(padded, axis=1, out=csum[:, 1:])
    return (csum[:, n:n + width] - csum[:, :width]) / float(n)


def _window_score_rows(w2: np.ndarray, w3, off: np.ndarray, lens: np.ndarray):
    """(scores, valid): row r, columns < lens[r], is
    ``CharNgramLM.window_avg_scores`` of the sentence at ``off[r]`` of the
    joined text whose 2/3-gram scores are ``w2`` / ``w3``; +inf elsewhere."""
    width = int(lens.max())
    # np.average over the [2-gram(, 3-gram)] rows: (0.0 + a [+ b]) / count
    scores = 0.0 + _row_windows(w2, 2, off, lens, width)
    tri = lens >= 3
    if tri.any():
        scores[tri] = (scores[tri] + _row_windows(w3, 3, off[tri], lens[tri], width)) / 2.0
    valid = np.arange(width)[None, :] < lens[:, None]
    scores[~valid] = np.inf
    return scores, valid


def _row_medians(x: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``np.median(x[r, :lens[r]])`` per row, bit for bit, for ``x`` padded
    with +inf past each row's length: the middle element (odd length) or
    the mean of the middle two (even), NaN for a row holding a NaN. The
    sums start at +0.0 like np.mean's, so a -0.0 median comes out +0.0."""
    s = np.sort(x, axis=1)
    r = np.arange(len(lens))
    lo, hi = s[r, (lens - 1) // 2], s[r, lens // 2]
    med = np.where(lens % 2 == 1, 0.0 + lo, (0.0 + lo + hi) / 2.0)
    med[np.isnan(x).any(axis=1)] = np.nan
    return med


def window_outliers_batch(lm: CharNgramLM, sentences):
    """``mad_outlier_indices(lm.window_avg_scores(s))`` for every sentence
    (``[]`` where the scores are None), bit for bit, as one pass.

    The LM probes run once over all sentences joined together (window
    n-grams crossing a sentence boundary are probed and never read). The
    window averages and both medians then run row by row on padded 2-D
    arrays, one per chunk of similar-length sentences, each under
    ``OUTLIER_CELL_CAP`` cells (``outlier_chunks``)."""
    out = [[] for _ in sentences]
    lens_all = np.fromiter((len(s) for s in sentences), dtype=np.int64, count=len(sentences))
    live = np.flatnonzero(lens_all >= 2)
    if not len(live):
        return out
    lens = lens_all[live]
    off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ids = lm.encode("".join(sentences[i] for i in live))
    u = lm.uni(ids)
    c2 = lm.cond2(ids[:-1], ids[1:])
    w2 = u[:-1] + c2
    w3 = u[:-2] + c2[:-1] + lm.cond3(ids[:-2], ids[1:-1], ids[2:]) if len(ids) >= 3 else None

    order = np.argsort(lens, kind="stable")
    for chunk in outlier_chunks(lens[order], OUTLIER_CELL_CAP):
        rows = order[chunk]
        ln = lens[rows]
        scores, valid = _window_score_rows(w2, w3, off[rows], ln)
        med = _row_medians(scores, ln)
        margin = np.abs(scores - med[:, None])
        mad = _row_medians(np.where(valid, margin, np.inf), ln)
        with np.errstate(divide="ignore", invalid="ignore"):
            y = MAD_RATIO * margin / mad[:, None]
        flags = (y > MAD_THRESHOLD) & (scores < med[:, None]) & valid & (mad != 0)[:, None]
        for r, f in zip(rows, flags):
            out[live[r]] = np.flatnonzero(f).tolist()
    return out


def _id_to_token(lm: CharNgramLM):
    rev = {}
    for c, i in lm.vocab.items():
        if c == " ":
            rev[i] = "<sp>"  # space is the ARPA token separator
        elif c in ("\t", "\n", "\r"):
            # tab is the ARPA field separator and newline the record
            # separator — a vocab containing them cannot serialize to a
            # well-formed file; fail loudly instead of corrupting it
            raise ValueError(
                f"vocabulary char {c!r} is not representable in ARPA text; "
                "strip control whitespace from the training corpus first"
            )
        else:
            rev[i] = c
    rev[0] = "<unk>"
    rev[1] = "<s>"
    rev[2] = "</s>"
    return rev


def _unpack_cols(keys, n: int, base: int):
    """Inverse of ``_pack_cols``: n id columns, oldest first."""
    cols, rem = [], np.asarray(keys, dtype=np.int64)
    for j in range(n - 1, -1, -1):
        div = base ** j
        cols.append(rem // div)
        rem = rem % div
    return cols


def require_id_keys(lm: CharNgramLM) -> None:
    """Raise ValueError unless ``lm``'s n-gram keys are packed ids that
    ``_unpack_cols`` decodes. A model decoded from a KenLM binary keys its
    tables by hash; exporting it would decode those hashes as ids."""
    if type(lm)._key is not CharNgramLM._key:
        raise ValueError(
            f"{type(lm).__name__} keys its n-grams by hash, which cannot be "
            "decoded back to ids; export the id-keyed model it was built from"
        )


def float32_rounded(lm: CharNgramLM) -> CharNgramLM:
    """``lm`` with every probability and backoff weight rounded through
    float32, as a KenLM binary stores them; keys stay packed ids."""
    require_id_keys(lm)

    def f32(a):
        return a.astype(np.float32).astype(np.float64)

    return CharNgramLM(
        lm.vocab, f32(lm.p1), f32(lm.bow1), lm.keys,
        {n: f32(v) for n, v in lm.p.items()},
        {n: f32(v) for n, v in lm.ctx_bow.items()},
        lm.order,
    )


def to_arpa_lines(lm: CharNgramLM):
    """Serialize a CharNgramLM to standard ARPA text lines (log10 probs,
    TAB-separated, \\data\\ header) — the interchange format KenLM's
    lmplz/build_binary consume and emit, so a model trained here can be
    inspected or shipped. Probabilities are emitted at full float64
    precision (repr — shortest string that round-trips the exact IEEE-754
    value), so load_arpa(to_arpa_lines(lm)) reproduces BIT-IDENTICAL
    scores (test-enforced). Emits every order up to lm.order. Raises
    ValueError on a hash-keyed model (``require_id_keys``)."""
    require_id_keys(lm)
    rev = _id_to_token(lm)
    base = lm.base
    uni_ids = [0, 1, 2] + sorted(lm.vocab.values())
    lines = ["\\data\\", f"ngram 1={len(uni_ids)}"]
    for n in range(2, lm.order + 1):
        lines.append(f"ngram {n}={len(lm.keys.get(n, ()))}")
    lines += ["", "\\1-grams:"]
    for i in uni_ids:
        bow = float(lm.bow1[i])
        if bow != 0.0:
            lines.append(f"{float(lm.p1[i])!r}\t{rev[i]}\t{bow!r}")
        else:
            lines.append(f"{float(lm.p1[i])!r}\t{rev[i]}")
    for n in range(2, lm.order + 1):
        lines.append("")
        lines.append(f"\\{n}-grams:")
        bows = lm.ctx_bow.get(n)
        grams = zip(*(c.tolist() for c in _unpack_cols(lm.keys.get(n, ()), n, base)))
        for j, (ids, p) in enumerate(zip(grams, lm.p.get(n, ()))):
            gram = " ".join(rev[i] for i in ids)
            bow = float(bows[j]) if bows is not None else 0.0
            if bow != 0.0:
                lines.append(f"{float(p)!r}\t{gram}\t{bow!r}")
            else:
                lines.append(f"{float(p)!r}\t{gram}")
    lines.append("")
    lines.append("\\end\\")
    return lines


def load_arpa(source, max_order: int = 5) -> CharNgramLM:
    """Parse a standard ARPA text model into a CharNgramLM.

    ``source``: a path or an iterable of lines. Orders up to ``max_order``
    (default 5 — the reference's pretrained zh_giga class of model) are
    supported. Tokens must be single characters apart from
    <s>/</s>/<unk> and the <sp> escape for the literal space char —
    ARPA cannot carry a bare space token, since space is the n-gram
    separator (this is a CHAR LM, the reference's people_chars_lm.klm
    class of model). Backoff weights default to 0 when a line omits them,
    per the ARPA spec."""
    if isinstance(source, str):
        with open(source, "r", encoding="utf-8") as f:
            lines = f.read().splitlines()
    else:
        lines = list(source)

    sections = {}
    order = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        if line.startswith("\\") and line.endswith("-grams:"):
            order = int(line[1:line.index("-")])
            if order > max_order:
                raise ValueError(f"ARPA order {order} unsupported (max {max_order})")
            sections[order] = []
            continue
        if line in ("\\data\\", "\\end\\") or line.startswith("ngram "):
            order = 0
            continue
        if order:
            parts = line.split("\t")
            if len(parts) == 1:  # some tools emit space-separated rows
                parts = line.split()
                parts = [parts[0], " ".join(parts[1:order + 1])] + parts[order + 1:]
            logp = float(parts[0])
            gram = parts[1].split(" ")
            bow = float(parts[2]) if len(parts) > 2 else 0.0
            sections[order].append((logp, gram, bow))

    if 1 not in sections:
        raise ValueError("ARPA file has no \\1-grams: section")
    model_order = max(sections)

    special = {"<s>": 1, "</s>": 2, "<unk>": 0}
    # un-escape the space token before vocabulary assembly
    for sec in sections.values():
        for _, gram, _ in sec:
            for j, tok in enumerate(gram):
                if tok == "<sp>":
                    gram[j] = " "
    chars = sorted(
        g[0] for _, g, _ in sections[1] if g[0] not in special
    )
    for c in chars:
        if len(c) != 1:
            raise ValueError(
                f"token {c!r} is not a single character — load_arpa expects "
                "a char-level model (train word models upstream instead)"
            )
    vocab = {c: i + 3 for i, c in enumerate(chars)}
    base = len(vocab) + 3
    if base ** model_order >= (1 << 62):
        raise ValueError(
            f"vocab size {len(vocab)} at order {model_order} overflows the "
            "int64 packed-key space; prune the vocabulary or the order"
        )

    def tid(tok):
        return special.get(tok, vocab.get(tok, 0))

    p1 = np.full(base, LOG10_EPS, dtype=np.float64)
    bow1 = np.zeros(base, dtype=np.float64)
    for logp, gram, bow in sections[1]:
        i = tid(gram[0])
        p1[i] = logp
        bow1[i] = bow

    keys, ps, ctx_bow = {}, {}, {}
    for n in range(2, model_order + 1):
        kk, pv, bv = [], [], []
        for logp, gram, bow in sections.get(n, []):
            key = 0
            for t in gram:
                key = key * base + tid(t)
            kk.append(key)
            pv.append(logp)
            bv.append(bow)
        arr = np.array(kk, dtype=np.int64)
        order_idx = np.argsort(arr, kind="stable")
        keys[n] = arr[order_idx]
        ps[n] = np.array(pv, dtype=np.float64)[order_idx]
        if n < model_order:
            ctx_bow[n] = np.array(bv, dtype=np.float64)[order_idx]

    return CharNgramLM(vocab, p1, bow1, keys, ps, ctx_bow, model_order)


def train_char_lm(corpus, min_count: int = 1, order: int = 5) -> CharNgramLM:
    """Train a general-order absolute-discount backoff char LM
    (default order 5, per the north rule's 5-gram scorer).

    ``corpus``: iterable of sentences (strings). Deterministic: vocabulary
    ids assigned in sorted char order; n-gram probabilities interpolate
    with the next-lower order (so every stored prob is nonzero) and each
    context's leftover discount mass becomes its backoff weight.

    Only ``min_count=1`` is supported: with a cutoff, sub-threshold chars
    would all map to the unk id, so distinct pruned n-grams collapse to
    one packed key — the count tables below would then need re-aggregation
    before probability estimation (duplicate keys otherwise corrupt the
    unigram/backoff arrays). Rejected explicitly rather than silently
    mis-trained; vocabulary pruning belongs in corpus preparation.
    """
    if min_count != 1:
        raise ValueError(
            "train_char_lm supports min_count=1 only; prune the corpus "
            "vocabulary upstream instead (see docstring)"
        )
    if order < 2:
        raise ValueError("order must be >= 2")
    counts = {n: Counter() for n in range(1, order + 1)}
    for sent in corpus:
        if not sent:
            continue
        toks = ["<s>"] + list(sent) + ["</s>"]
        for t in toks[1:]:
            counts[1][t] += 1
        for n in range(2, order + 1):
            for i in range(len(toks) - n + 1):
                counts[n][tuple(toks[i: i + n])] += 1

    uni = counts[1]
    chars = sorted(c for c in uni if c not in ("<s>", "</s>"))
    vocab = {c: i + 3 for i, c in enumerate(chars)}
    base = len(vocab) + 3
    if base ** order >= (1 << 62):
        raise ValueError(
            f"vocab size {len(vocab)} at order {order} overflows the int64 "
            "packed-key space; reduce the order"
        )

    def tid(tok):
        if tok == "<s>":
            return 1
        if tok == "</s>":
            return 2
        return vocab.get(tok, 0)

    total_uni = sum(uni.values())
    V = len(vocab) + 2  # + eos + unk share the smoothing mass
    p1 = np.full(base, LOG10_EPS, dtype=np.float64)
    # additive smoothing gives <unk> and every token nonzero mass
    delta = 0.5
    denom = total_uni + delta * (V + 1)
    p1[0] = math.log10(delta / denom)  # unk
    for tok, c in uni.items():
        p1[tid(tok)] = math.log10((c + delta) / denom)
    p1[1] = p1[0]  # <s> is never predicted; give it unk mass for safety

    # build orders 2..N bottom-up. cond_maps[m]: packed m-gram -> LINEAR
    # conditional prob (stored grams only); bow_maps[m]: packed length-m
    # context -> LINEAR backoff weight (default 1.0 for unseen contexts,
    # the ARPA convention). Keeping every lower order around makes the
    # training-time backoff recursion exact at any depth.
    bow1 = np.zeros(base, dtype=np.float64)
    keys, ps, ctx_bow = {}, {}, {}
    cond_maps = {1: None}
    bow_maps = {}

    def pack_ids(toks):
        key = 0
        for t in toks:
            key = key * base + tid(t)
        return key

    def cond_lower(tail):
        """Linear P(tail[-1] | tail[:-1]) from the already-built orders."""
        m = len(tail)
        if m == 1:
            return 10.0 ** p1[tid(tail[0])]
        hit = cond_maps[m].get(pack_ids(tail))
        if hit is not None:
            return hit
        b = bow_maps[m - 1].get(pack_ids(tail[:-1]), 1.0)
        return b * cond_lower(tail[1:])

    for n in range(2, order + 1):
        ctx_count = Counter()
        ctx_types = Counter()
        for gram, c in counts[n].items():
            ctx = gram[:-1]
            ctx_count[ctx] += c
            ctx_types[ctx] += 1

        kk, pv = [], []
        cond_cur = {}
        for gram, c in sorted(counts[n].items()):
            ctx = gram[:-1]
            lam = DISCOUNT * ctx_types[ctx] / ctx_count[ctx]
            pa = max(c - DISCOUNT, 0.0) / ctx_count[ctx]
            prob = pa + lam * cond_lower(gram[1:])
            key = pack_ids(gram)
            kk.append(key)
            pv.append(math.log10(prob))
            cond_cur[key] = prob

        arr = np.array(kk, dtype=np.int64)
        order_idx = np.argsort(arr, kind="stable")
        keys[n] = arr[order_idx]
        ps[n] = np.array(pv, dtype=np.float64)[order_idx]

        # backoff weights for length-(n-1) contexts
        bow_cur = {}
        for ctx, c in ctx_count.items():
            lam = DISCOUNT * ctx_types[ctx] / c
            bow_cur[pack_ids(ctx)] = lam
        if n == 2:
            for ctx in ctx_count:
                lam = bow_cur[pack_ids(ctx)]
                bow1[tid(ctx[0])] = math.log10(lam) if lam > 0 else LOG10_EPS
        else:
            m = n - 1
            bows = np.zeros(len(keys[m]), dtype=np.float64)
            k_sorted = keys[m]
            for key, lam in bow_cur.items():
                j = int(np.searchsorted(k_sorted, key))
                if j < len(k_sorted) and k_sorted[j] == key:
                    bows[j] = math.log10(lam) if lam > 0 else LOG10_EPS
            ctx_bow[m] = bows

        cond_maps[n] = cond_cur
        bow_maps[n - 1] = bow_cur

    return CharNgramLM(vocab, p1, bow1, keys, ps, ctx_bow, order)
