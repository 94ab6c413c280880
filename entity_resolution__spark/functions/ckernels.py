"""Optional compiled (C) path for the two hot string kernels.

jaro + LCS are ~90% of the pairwise feature kernel's single-thread CPU
(cProfile at the 20k-pair bench batch: jaro_winkler 60%, lcs_len 30%);
both are per-pair char loops that neither numpy batching (two rewrites
measured slower — see the round-4 note in functions/features.py and the
round-7 retry) nor Catalyst can absorb. A compiled string library
(rapidfuzz) is not a dependency, so this module compiles a direct C
transcription of the pure-python kernels with the system gcc at first
use (cached .so keyed on the source hash), loads it via ctypes, and
certifies it against the pure kernels on the parity battery
(strings._parity_battery) before it is allowed to serve. Any failure (no compiler, compile error, battery
mismatch) silently yields the pure-python fallback; the python kernels
remain the oracle the tests pin.

Float discipline: the C expressions replicate the python kernels'
operation ORDER ((m/la + m/lb + (m-t)/m) / 3.0 and
j + prefix*0.1*(1-j)), all in IEEE double on SSE2 — bit-identical
results, enforced by the battery plus a randomized-corpus pytest.

SPARK_GRAFT_PURE_KERNELS=1 disables this path for A/B measurement.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

typedef struct { uint32_t key; int64_t val; } slot_t;

static inline uint64_t hash_u32(uint32_t x) {
    return (uint64_t)x * 0x9E3779B97F4A7C15ULL;
}

/* open addressing; tab_cap is a power of two; val == -1 means empty */
static inline int64_t map_find(slot_t* tab, int64_t cap, uint32_t key) {
    uint64_t h = (hash_u32(key) >> 32) & (uint64_t)(cap - 1);
    while (tab[h].val != -1 && tab[h].key != key)
        h = (h + 1) & (uint64_t)(cap - 1);
    return (int64_t)h;
}

/* ---- bit-parallel LCS (Hyyro), multi-word, truncation-safe mod 2^64W --- */
static int64_t lcs_len_pair(
    const uint32_t* a, int64_t la, const uint32_t* b, int64_t lb,
    slot_t* tab, int64_t tab_cap, uint64_t* masks, uint64_t* v)
{
    if (la == 0 || lb == 0) return 0;
    if (la > lb) {
        const uint32_t* ts = a; a = b; b = ts;
        int64_t tl = la; la = lb; lb = tl;
    }
    int64_t m = la;
    int64_t W = (m + 63) >> 6;
    for (int64_t i = 0; i < tab_cap; i++) tab[i].val = -1;
    int64_t nkeys = 0;
    for (int64_t i = 0; i < m; i++) {
        int64_t s = map_find(tab, tab_cap, a[i]);
        if (tab[s].val == -1) {
            tab[s].key = a[i];
            tab[s].val = nkeys;
            memset(masks + nkeys * W, 0, (size_t)W * 8);
            nkeys++;
        }
        masks[tab[s].val * W + (i >> 6)] |= 1ULL << (i & 63);
    }
    for (int64_t w = 0; w < W; w++) v[w] = ~0ULL;
    if (m & 63) v[W - 1] = (1ULL << (m & 63)) - 1;
    for (int64_t j = 0; j < lb; j++) {
        int64_t s = map_find(tab, tab_cap, b[j]);
        const uint64_t* pm =
            (tab[s].val != -1) ? masks + tab[s].val * W : NULL;
        uint64_t carry = 0, borrow = 0;
        for (int64_t w = 0; w < W; w++) {
            uint64_t p = pm ? (pm[w] & v[w]) : 0;
            uint64_t s1 = v[w] + p;      uint64_t c1 = s1 < v[w];
            uint64_t s2 = s1 + carry;    uint64_t c2 = s2 < s1;
            uint64_t d1 = v[w] - p;      uint64_t b1 = v[w] < p;
            uint64_t d2 = d1 - borrow;   uint64_t b2 = d1 < borrow;
            v[w] = s2 | d2;
            carry = c1 | c2;
            borrow = b1 | b2;
        }
    }
    if (m & 63) v[W - 1] &= (1ULL << (m & 63)) - 1;
    int64_t ones = 0;
    for (int64_t w = 0; w < W; w++) ones += __builtin_popcountll(v[w]);
    return m - ones;
}

/* ---- jaro-winkler: exact transcription of the python greedy kernel --- */
static double jaro_winkler_pair(
    const uint32_t* a, int64_t la, const uint32_t* b, int64_t lb,
    slot_t* tab, int64_t tab_cap,
    int64_t* counts, int64_t* starts, int64_t* fillc, int64_t* poss,
    int64_t* matched_j, uint32_t* a_match)
{
    if (la == 0 && lb == 0) return 1.0;
    if (la == 0 || lb == 0) return 0.0;
    if (la == lb && memcmp(a, b, (size_t)la * 4) == 0) return 1.0;
    int64_t window = (la > lb ? la : lb) / 2 - 1;
    if (window < 0) window = 0;
    for (int64_t i = 0; i < tab_cap; i++) tab[i].val = -1;
    int64_t nkeys = 0;
    for (int64_t j = 0; j < lb; j++) {
        int64_t s = map_find(tab, tab_cap, b[j]);
        if (tab[s].val == -1) {
            tab[s].key = b[j];
            tab[s].val = nkeys;
            counts[nkeys] = 0;
            nkeys++;
        }
        counts[tab[s].val]++;
    }
    starts[0] = 0;
    for (int64_t k = 1; k < nkeys; k++) starts[k] = starts[k-1] + counts[k-1];
    for (int64_t k = 0; k < nkeys; k++) fillc[k] = 0;
    for (int64_t j = 0; j < lb; j++) {
        int64_t k = tab[map_find(tab, tab_cap, b[j])].val;
        poss[starts[k] + fillc[k]++] = j;
    }
    for (int64_t k = 0; k < nkeys; k++) fillc[k] = 0;  /* now: cursors */
    int64_t m = 0;
    for (int64_t i = 0; i < la; i++) {
        int64_t s = map_find(tab, tab_cap, a[i]);
        if (tab[s].val == -1) continue;
        int64_t k = tab[s].val;
        int64_t lo = i - window;
        while (fillc[k] < counts[k] && poss[starts[k] + fillc[k]] < lo)
            fillc[k]++;
        if (fillc[k] < counts[k] && poss[starts[k] + fillc[k]] <= i + window) {
            matched_j[m] = poss[starts[k] + fillc[k]];
            a_match[m] = a[i];
            m++;
            fillc[k]++;
        }
    }
    if (m == 0) return 0.0;
    for (int64_t i = 1; i < m; i++) {       /* near-sorted: insertion sort */
        int64_t x = matched_j[i];
        int64_t p = i - 1;
        while (p >= 0 && matched_j[p] > x) { matched_j[p+1] = matched_j[p]; p--; }
        matched_j[p + 1] = x;
    }
    int64_t t = 0;
    for (int64_t i = 0; i < m; i++)
        if (a_match[i] != b[matched_j[i]]) t++;
    t /= 2;
    double md = (double)m;
    double j_sim =
        (md / (double)la + md / (double)lb + (md - (double)t) / md) / 3.0;
    if (j_sim > 0.7) {
        int64_t lim = la < lb ? la : lb;
        if (lim > 4) lim = 4;
        int64_t prefix = 0;
        for (int64_t i = 0; i < lim; i++) {
            if (a[i] == b[i]) prefix++; else break;
        }
        j_sim += (double)prefix * 0.1 * (1.0 - j_sim);
    }
    return j_sim;
}

static int64_t next_pow2(int64_t x) {
    int64_t p = 1;
    while (p < x) p <<= 1;
    return p;
}

/* batch drivers over flattened utf-32 code arrays + offsets (len n+1) */
int jw_batch(
    const uint32_t* fa, const int64_t* oa,
    const uint32_t* fb, const int64_t* ob,
    int64_t n, double* out)
{
    int64_t max_a = 0, max_b = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t la = oa[i+1] - oa[i], lb = ob[i+1] - ob[i];
        if (la > max_a) max_a = la;
        if (lb > max_b) max_b = lb;
    }
    int64_t mx = max_a > max_b ? max_a : max_b;
    int64_t mn = max_a < max_b ? max_a : max_b;
    int64_t cap = next_pow2(2 * (mx > 1 ? mx : 1));
    slot_t* tab = malloc((size_t)cap * sizeof(slot_t));
    int64_t* counts = malloc((size_t)(mx + 1) * sizeof(int64_t));
    int64_t* starts = malloc((size_t)(mx + 1) * sizeof(int64_t));
    int64_t* fillc  = malloc((size_t)(mx + 1) * sizeof(int64_t));
    int64_t* poss   = malloc((size_t)(mx + 1) * sizeof(int64_t));
    int64_t* mj     = malloc((size_t)(mn + 1) * sizeof(int64_t));
    uint32_t* am    = malloc((size_t)(mn + 1) * sizeof(uint32_t));
    if (!tab || !counts || !starts || !fillc || !poss || !mj || !am) {
        free(tab); free(counts); free(starts); free(fillc);
        free(poss); free(mj); free(am);
        return 1;
    }
    for (int64_t i = 0; i < n; i++) {
        out[i] = jaro_winkler_pair(
            fa + oa[i], oa[i+1] - oa[i], fb + ob[i], ob[i+1] - ob[i],
            tab, cap, counts, starts, fillc, poss, mj, am);
    }
    free(tab); free(counts); free(starts); free(fillc);
    free(poss); free(mj); free(am);
    return 0;
}

int lcs_batch(
    const uint32_t* fa, const int64_t* oa,
    const uint32_t* fb, const int64_t* ob,
    int64_t n, int64_t* out)
{
    int64_t max_m = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t la = oa[i+1] - oa[i], lb = ob[i+1] - ob[i];
        int64_t m = la < lb ? la : lb;
        if (m > max_m) max_m = m;
    }
    int64_t W = ((max_m > 0 ? max_m : 1) + 63) >> 6;
    int64_t cap = next_pow2(2 * (max_m > 1 ? max_m : 1));
    slot_t* tab = malloc((size_t)cap * sizeof(slot_t));
    uint64_t* masks = malloc((size_t)(max_m + 1) * (size_t)W * 8);
    uint64_t* v = malloc((size_t)W * 8);
    if (!tab || !masks || !v) {
        free(tab); free(masks); free(v);
        return 1;
    }
    for (int64_t i = 0; i < n; i++) {
        out[i] = lcs_len_pair(
            fa + oa[i], oa[i+1] - oa[i], fb + ob[i], ob[i+1] - ob[i],
            tab, cap, masks, v);
    }
    free(tab); free(masks); free(v);
    return 0;
}
"""


class _CKernels:
    def __init__(self, lib: ctypes.CDLL):
        i64p = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
        u32p = np.ctypeslib.ndpointer(dtype=np.uint32, flags="C_CONTIGUOUS")
        f64p = np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS")
        lib.jw_batch.argtypes = [u32p, i64p, u32p, i64p, ctypes.c_int64, f64p]
        lib.jw_batch.restype = ctypes.c_int
        lib.lcs_batch.argtypes = [u32p, i64p, u32p, i64p, ctypes.c_int64, i64p]
        lib.lcs_batch.restype = ctypes.c_int
        self._lib = lib

    @staticmethod
    def _encode(strs) -> tuple[np.ndarray, np.ndarray]:
        cps = [
            np.frombuffer((s or "").encode("utf-32-le"), dtype=np.uint32)
            for s in strs
        ]
        offs = np.zeros(len(cps) + 1, dtype=np.int64)
        np.cumsum(
            np.fromiter((len(c) for c in cps), dtype=np.int64, count=len(cps)),
            out=offs[1:],
        )
        flat = (
            np.concatenate(cps) if cps else np.empty(0, dtype=np.uint32)
        ).astype(np.uint32, copy=False)
        return np.ascontiguousarray(flat), offs

    def jw_batch(self, av, bv) -> np.ndarray:
        fa, oa = self._encode(av)
        fb, ob = self._encode(bv)
        out = np.empty(len(av), dtype=np.float64)
        rc = self._lib.jw_batch(fa, oa, fb, ob, len(av), out)
        if rc != 0:
            raise MemoryError("jw_batch: allocation failed")
        return out

    def lcs_batch(self, av, bv) -> np.ndarray:
        fa, oa = self._encode(av)
        fb, ob = self._encode(bv)
        out = np.empty(len(av), dtype=np.int64)
        rc = self._lib.lcs_batch(fa, oa, fb, ob, len(av), out)
        if rc != 0:
            raise MemoryError("lcs_batch: allocation failed")
        return out


def _compile() -> str | None:
    """Compile (or reuse) the cached .so; returns its path or None."""
    src_hash = hashlib.md5(_C_SOURCE.encode()).hexdigest()[:16]
    cache_dir = os.environ.get("SPARK_GRAFT_CKERNEL_DIR") or os.path.join(
        tempfile.gettempdir(), "erspark_ckernels"
    )
    so_path = os.path.join(cache_dir, f"ckernels_{src_hash}.so")
    if os.path.exists(so_path):
        return so_path
    try:
        os.makedirs(cache_dir, exist_ok=True)
        fd, c_path = tempfile.mkstemp(suffix=".c", dir=cache_dir)
        with os.fdopen(fd, "w") as f:
            f.write(_C_SOURCE)
        tmp_so = c_path[:-2] + ".so"
        # plain -O2, no -ffast-math / -march: IEEE doubles, portable ops
        r = subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", "-o", tmp_so, c_path],
            capture_output=True,
            timeout=120,
        )
        os.unlink(c_path)
        if r.returncode != 0:
            return None
        os.replace(tmp_so, so_path)  # atomic: concurrent compiles converge
        return so_path
    except (OSError, subprocess.SubprocessError):
        return None


def _probe(k: _CKernels) -> bool:
    """Exact-parity certification vs the pure-python kernels on
    strings._parity_battery."""
    from entity_resolution__spark.functions import strings as S

    battery = S._parity_battery()
    av = np.array([a for a, _ in battery], dtype=object)
    bv = np.array([b for _, b in battery], dtype=object)
    jw = k.jw_batch(av, bv)
    lcs = k.lcs_batch(av, bv)
    for i, (a, b) in enumerate(battery):
        if jw[i] != S.jaro_winkler(a, b):
            return False
        if int(lcs[i]) != S.lcs_len(a, b):
            return False
    return True


def load() -> _CKernels | None:
    """The compiled kernels, or None when unavailable/uncertified."""
    if os.environ.get("SPARK_GRAFT_PURE_KERNELS") == "1":
        return None
    so_path = _compile()
    if so_path is None:
        return None
    try:
        k = _CKernels(ctypes.CDLL(so_path))
    except OSError:
        return None
    try:
        return k if _probe(k) else None
    except Exception:
        return None
