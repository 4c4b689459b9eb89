"""A template-crowded text corpus whose SimHash fingerprints crowd one
Manku band key past ``simhash_band_candidates``' default bound of 256
distinct signatures, so the hot-bucket valve engages on real text
(the valve's unit tests exercise it on synthetic signatures only)."""

from __future__ import annotations

_MANKU_OFFS = (0, 11, 22, 33, 44, 54)
_MANKU_WIDTHS = (11, 11, 11, 11, 10, 10)
_PROT_BLOCKS = (0, 2, 4)  # one clean block-triple = band shared by ALL variants


def _sig_row(tok: str):
    """±1 contribution of one token to the 64 sig bits (index b = sig
    bit b) — the same md5 math as dedup.simhash_signatures, replicated
    offline so the corpus can be CONSTRUCTED to crowd a band bucket."""
    import hashlib

    import numpy as np

    d = hashlib.md5(tok.encode()).digest()[:8]
    row = np.unpackbits(np.frombuffer(d, np.uint8)).astype(np.int64)
    return (2 * row - 1)[::-1]  # unpackbits index k is sig bit 63-k


def build_band_crowd_corpus(seed: int = 7, n_variants: int = 600, n_twins: int = 60):
    """Deterministic adversarial template corpus: >256 DISTINCT sigs on
    ONE Manku band key (the boilerplate-template shape that crowds band
    buckets at web scale), constructed offline from the operator's own
    public md5 bit math.

    Shape: a steered-greedy template whose bit-sums are sign-stable
    (|s| >= 16) on blocks {0,2,4} — so every variant shares that
    block-triple band key — and near zero on blocks {1,3,5}, which a
    per-variant filler (4 unique tokens x count 3, |delta| <= 12 < 16)
    flips variably.  The volatile blocks intersect all FOUR 16-bit
    chunks, so crowd pairs differ in every chunk and the valve's
    chunk-refined join can cut them; Hamming<=3 pairs always share a
    clean chunk (pigeonhole) and are preserved.  ``n_twins`` planted
    near-dups (one extra count-1 token, searched to flip 1-3 bits) make
    the true-pair set non-trivially non-empty.

    Returns (rows, expected): rows = [(doc_id, text)], expected = dict
    of offline-predicted stats (distinct sigs, crowd bucket size).
    """
    import numpy as np

    prot = sorted(
        b
        for j in _PROT_BLOCKS
        for b in range(_MANKU_OFFS[j], _MANKU_OFFS[j] + _MANKU_WIDTHS[j])
    )
    vol = sorted(set(range(64)) - set(prot))
    P, V = np.array(prot), np.array(vol)
    target_p = 16

    # steered greedy: each step adds the best of 512 candidate tokens —
    # push weak protected bits toward |s| >= target, volatile toward 0
    s = np.zeros(64, dtype=np.int64)
    tmpl: list[str] = []
    for it in range(3000):
        need_p = np.abs(s[P]) < target_p + 4
        weak_p = np.abs(s[P]) < target_p
        hot_v = np.abs(s[V]) > 4
        if not weak_p.any() and hot_v.sum() <= 8:
            break
        best_sc, best = -1e18, None
        for j in range(512):
            t = f"g{seed}x{it}x{j}"
            r = _sig_row(t)
            dirp = np.where(s[P] != 0, np.sign(s[P]), 1)
            sc = (r[P] * dirp * need_p).sum() + (r[V] * -np.sign(s[V]) * hot_v).sum()
            if sc > best_sc:
                best_sc, best = sc, (t, r)
        tmpl.append(best[0])
        s = s + best[1]
    assert np.abs(s[P]).min() >= target_p, "template construction failed to converge"

    def sig_of(total: "np.ndarray") -> int:
        v = (total > 0).astype(np.uint64)
        return int((v << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))

    tmpl_text = " ".join(tmpl)
    rows, sigs = [], []
    base_totals = {}
    for vtx in range(n_variants):
        fills = [f"f{vtx}n{j}" for j in range(4)]
        tot = s + sum(3 * _sig_row(f) for f in fills)
        base_totals[vtx] = (fills, tot)
        rows.append((900_000_000 + vtx, tmpl_text + " " + " ".join(f + " " + f + " " + f for f in fills)))
        sigs.append(sig_of(tot))
    # twins: search a count-1 extra token that flips 1-3 bits of its base
    planted = 0
    for vtx in range(n_variants):
        if planted >= n_twins:
            break
        fills, tot = base_totals[vtx]
        for j in range(300):
            tw = f"tw{vtx}x{j}"
            tot2 = tot + _sig_row(tw)
            hd = bin(sig_of(tot) ^ sig_of(tot2)).count("1")
            if 1 <= hd <= 3:
                rows.append(
                    (
                        950_000_000 + vtx,
                        tmpl_text
                        + " "
                        + " ".join(f + " " + f + " " + f for f in fills)
                        + " "
                        + tw,
                    )
                )
                sigs.append(sig_of(tot2))
                planted += 1
                break
    uniq = set(sigs)
    expected = {
        "n_crowd_docs": len(rows),
        "n_planted_twins": planted,
        "expected_distinct_sigs": len(uniq),
    }
    assert len(uniq) > 256, "crowd must exceed the default max_band_bucket"
    return rows, expected
