"""Arrow-vectorized twins of the Catalyst HOF hash kernels (functions.hashing).

The HOF implementations in operators/dedup.py are pure-JVM and
oracle-exact, but Spark evaluates higher-order-function lambdas
interpreted, not codegen'd — a 16-permutation minhash fold or a 53-bit
simhash vote loop pays that interpreter cost per element.  These kernels
compute the SAME integers (same moduli, same folds, bit-for-bit) in numpy
over whole Arrow batches: one C-speed pass per batch instead of an
interpreted expression tree per element.

Everything here is per-row pure (no cross-row state), so the operators
stay partitioning-invariant and distribute like any map: at 100 TB the
kernel cost scales linearly and shuffles are unchanged — only the
signature-computation stage gets cheaper.

Exactness notes (all arithmetic stays inside int64):
  * codepoints via utf-32-le == Spark ``ascii()`` / DuckDB ``ascii()``
    codepoint semantics;
  * shingle hash: h = fold(31*h + cp) mod 1e9+7; max cp 0x10FFFF,
    31*h < 2^35 — fits int64 via 5-wide dot product < 2^53;
  * minhash: (a*h + b) mod (2^31-1), a*h < 2^61;
  * simhash token hash: fold mod 2^53-111, 31*h < 2^58.
"""

from __future__ import annotations

import numpy as np

from .hashing import MINHASH_P, MINHASH_PERMS, POLY_MOD, SIMHASH_MOD


def _codepoints(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.int64)


def _poly_fold(codes: np.ndarray, mod: int) -> int:
    h = 0
    for c in codes.tolist():
        h = (h * 31 + c) % mod
    return h


def _segmented_positions(counts: np.ndarray) -> np.ndarray:
    """[0..counts[0]), [0..counts[1]), ... concatenated (vectorized)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    idx = np.arange(total, dtype=np.int64)
    seg = np.searchsorted(ends, idx, side="right")
    starts = ends - counts
    return idx - starts[seg]


def shingle_hash_sets(
    texts: list[str], shingle_len: int
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct shingle hashes for every doc in one vectorized pass.

    Returns (doc_idx, hashes) sorted by (doc, hash): the distinct
    ``poly_hash`` values of each doc's character shingles, replicating
    the Catalyst ``shingle_hashes`` in tests/catalyst_reference.py exactly
    (docs shorter than ``shingle_len`` contribute the hash of the whole
    text — 0 for empty).
    """
    n_docs = len(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    codes = _codepoints("".join(texts))

    doc_parts: list[np.ndarray] = []
    hash_parts: list[np.ndarray] = []

    long_mask = lens >= shingle_len
    if long_mask.any():
        counts = np.where(long_mask, lens - shingle_len + 1, 0)
        win_starts = np.repeat(offsets[:-1], counts) + _segmented_positions(counts)
        windows = np.lib.stride_tricks.sliding_window_view(codes, shingle_len)[
            win_starts
        ]
        pows = np.array(
            [31 ** (shingle_len - 1 - j) for j in range(shingle_len)], dtype=np.int64
        )
        hash_parts.append((windows @ pows) % POLY_MOD)
        doc_parts.append(np.repeat(np.arange(n_docs, dtype=np.int64), counts))

    short_docs = np.nonzero(~long_mask)[0]
    if short_docs.size:
        doc_parts.append(short_docs)
        hash_parts.append(
            np.fromiter(
                (
                    _poly_fold(codes[offsets[d] : offsets[d + 1]], POLY_MOD)
                    for d in short_docs.tolist()
                ),
                dtype=np.int64,
                count=short_docs.size,
            )
        )

    doc_idx = np.concatenate(doc_parts) if doc_parts else np.empty(0, dtype=np.int64)
    hashes = np.concatenate(hash_parts) if hash_parts else np.empty(0, dtype=np.int64)
    # distinct per doc: POLY hashes < 2^30, doc index < 2^33 here -> pack
    combined = np.unique((doc_idx << np.int64(31)) | hashes)
    return combined >> np.int64(31), combined & np.int64((1 << 31) - 1)


def minhash_signatures(texts: list[str], shingle_len: int) -> np.ndarray:
    """(n_docs, 16) int64 minhash signatures — same integers as the
    Catalyst ``minhash_signature`` over ``shingle_hashes`` in
    tests/catalyst_reference.py."""
    n_docs = len(texts)
    doc_idx, hashes = shingle_hash_sets(texts, shingle_len)
    starts = np.searchsorted(doc_idx, np.arange(n_docs, dtype=np.int64))
    sigs = np.empty((n_docs, len(MINHASH_PERMS)), dtype=np.int64)
    for j, (a, b) in enumerate(MINHASH_PERMS):
        vals = (a * hashes + b) % MINHASH_P
        # every doc has >= 1 shingle hash (short docs hash the whole text),
        # so reduceat segments are never empty
        sigs[:, j] = np.minimum.reduceat(vals, starts) if vals.size else MINHASH_P
    return sigs


def ngram_hash_lists(texts: list[str], n: int) -> list[np.ndarray]:
    """Per-doc distinct n-gram hash arrays (fuzzy-dedup gram sets)."""
    doc_idx, hashes = shingle_hash_sets(texts, n)
    bounds = np.searchsorted(doc_idx, np.arange(len(texts) + 1, dtype=np.int64))
    return [hashes[bounds[i] : bounds[i + 1]] for i in range(len(texts))]


def simhash_values(texts: list[str], token_sep: str = " ") -> np.ndarray:
    """int64 simhash per doc — same integers as the Catalyst
    ``simhash_from_hashes`` over ``token_hashes`` in
    tests/catalyst_reference.py (split on ``token_sep`` keeping empties,
    poly-fold each token mod 2^53-111, majority vote per bit over 53
    bits)."""
    n_docs = len(texts)
    token_lists = [t.split(token_sep) for t in texts]
    n_tokens = np.fromiter(
        (len(tl) for tl in token_lists), dtype=np.int64, count=n_docs
    )
    all_tokens = [tok for tl in token_lists for tok in tl]
    if not all_tokens:
        return np.zeros(n_docs, dtype=np.int64)

    tok_lens = np.fromiter((len(t) for t in all_tokens), dtype=np.int64)
    max_len = int(tok_lens.max()) if tok_lens.size else 0
    codes = _codepoints("".join(all_tokens))
    tok_offsets = np.concatenate([[0], np.cumsum(tok_lens)])

    # column-wise fold: h = (h*31 + cp) % MOD for tokens still in range
    h = np.zeros(len(all_tokens), dtype=np.int64)
    for j in range(max_len):
        active = tok_lens > j
        if not active.any():
            break
        cp = codes[tok_offsets[:-1][active] + j]
        h[active] = (h[active] * 31 + cp) % SIMHASH_MOD

    # ±1 votes per bit, summed per doc; bit set iff vote sum positive.
    # One pass per bit over the flat token-hash array: sum(votes) > 0
    # <=> 2*ones > n_tokens, avoiding a (tokens x 53) vote matrix whose
    # memory traffic costs ~60x the arithmetic.
    doc_starts = np.concatenate([[0], np.cumsum(n_tokens)])[:-1]
    out = np.zeros(n_docs, dtype=np.int64)
    for k in range(53):
        ones = np.add.reduceat((h >> np.int64(k)) & np.int64(1), doc_starts)
        out |= (2 * ones > n_tokens).astype(np.int64) << np.int64(k)
    return out


def _column_fold_hashes(tokens: list[str], base: int, mod: int) -> np.ndarray:
    """Poly-fold every token (h = base*h + codepoint mod ``mod``) in one
    column-wise vectorized pass — j-th iteration folds the j-th character of
    every still-active token (the simhash_values pattern)."""
    if not tokens:
        return np.empty(0, dtype=np.int64)
    tok_lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    codes = _codepoints("".join(tokens))
    tok_offsets = np.concatenate([[0], np.cumsum(tok_lens)])
    h = np.zeros(len(tokens), dtype=np.int64)
    for j in range(int(tok_lens.max()) if tok_lens.size else 0):
        active = tok_lens > j
        if not active.any():
            break
        cp = codes[tok_offsets[:-1][active] + j]
        h[active] = (h[active] * base + cp) % mod
    return h


# Second, independent word-hash function for the 61-bit gram keys: a gram
# key collides only when a pair of word sequences collides under BOTH folds
# (~2^-61 per pair), so keying joins on int64 instead of long strings is
# sound at corpus scale.
#
# The gram-fold bases must DIFFER from the word-fold bases: poly hashes
# concatenate (h('ab') == h('a')*31 + h('b') mod p), so a gram fold with
# the same base as the word fold makes ('x','','ab') and ('x','a','b')
# collide STRUCTURALLY whenever an empty token's hash is 0.  With base_g
# != base_w the same pair collides only if h('a')*(base_g - base_w) == 0
# mod p — never, p prime.  1000003 * (1e9+6) < 2^60 keeps the step in
# int64.
_WORD_BASE2 = 131
_GRAM_BASE1, _GRAM_BASE2 = 1_000_003, 137


def word_ngram_keys(texts: list[str], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc DISTINCT word n-gram keys for the whole batch.

    Splits each text on single spaces (string_split semantics, empties
    kept), hashes every word under two independent poly folds, then folds
    length-``n`` windows of word hashes into (h1 mod 1e9+7, h2 mod 2^31-1)
    packed as ``h1 * 2^31 + h2``.  Returns (doc_idx, keys) with per-doc
    duplicates removed.  Docs with fewer than ``n`` words contribute
    nothing.  All arithmetic stays inside int64: h1 < 2^30, so the packed
    key is < 2^61; fold steps are base*h + v with h < mod — max
    1000003 * (1e9+6) < 2^60."""
    # null/NaN text contributes no grams — matching the Catalyst twin,
    # where split(NULL) propagates NULL and the guard yields an empty array
    token_lists = [t.split(" ") if isinstance(t, str) else [] for t in texts]
    n_words = np.fromiter(
        (len(tl) for tl in token_lists), dtype=np.int64, count=len(texts)
    )
    flat = [tok for tl in token_lists for tok in tl]
    wh1 = _column_fold_hashes(flat, 31, POLY_MOD)
    wh2 = _column_fold_hashes(flat, _WORD_BASE2, MINHASH_P)

    counts = np.maximum(n_words - n + 1, 0)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    word_offsets = np.concatenate([[0], np.cumsum(n_words)])[:-1]
    win_starts = np.repeat(word_offsets, counts) + _segmented_positions(counts)
    g1 = np.zeros(total, dtype=np.int64)
    g2 = np.zeros(total, dtype=np.int64)
    for j in range(n):
        g1 = (g1 * _GRAM_BASE1 + wh1[win_starts + j]) % POLY_MOD
        g2 = (g2 * _GRAM_BASE2 + wh2[win_starts + j]) % MINHASH_P
    keys = g1 * np.int64(2**31) + g2
    doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)

    order = np.lexsort((keys, doc_idx))
    d, k = doc_idx[order], keys[order]
    keep = np.concatenate([[True], (d[1:] != d[:-1]) | (k[1:] != k[:-1])])
    return d[keep], k[keep]


def word_ngram_keys_positional(
    texts: list[str], n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every word ``n``-gram window of the batch WITH its 0-based start
    position: (doc_idx, pos, keys) — :func:`word_ngram_keys` without the
    per-doc dedup, for consumers that need coverage geometry (span-level
    removal maps duplicated keys back to the word positions they cover).
    Same split, same double poly fold, same packed 61-bit keys."""
    token_lists = [t.split(" ") if isinstance(t, str) else [] for t in texts]
    n_words = np.fromiter(
        (len(tl) for tl in token_lists), dtype=np.int64, count=len(texts)
    )
    flat = [tok for tl in token_lists for tok in tl]
    wh1 = _column_fold_hashes(flat, 31, POLY_MOD)
    wh2 = _column_fold_hashes(flat, _WORD_BASE2, MINHASH_P)

    counts = np.maximum(n_words - n + 1, 0)
    total = int(counts.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    word_offsets = np.concatenate([[0], np.cumsum(n_words)])[:-1]
    pos = _segmented_positions(counts)
    win_starts = np.repeat(word_offsets, counts) + pos
    g1 = np.zeros(total, dtype=np.int64)
    g2 = np.zeros(total, dtype=np.int64)
    for j in range(n):
        g1 = (g1 * _GRAM_BASE1 + wh1[win_starts + j]) % POLY_MOD
        g2 = (g2 * _GRAM_BASE2 + wh2[win_starts + j]) % MINHASH_P
    keys = g1 * np.int64(2**31) + g2
    doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
    return doc_idx, pos, keys
