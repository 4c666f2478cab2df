"""Optional C kernel for the FSST hot loop, with a guaranteed numpy
fallback.

The greedy longest-match tokenization is a sequential chain (pos ->
pos + match_len); the pure-numpy path vectorizes it with per-position
matching plus pointer-doubling chain enumeration (codecs/fsst.py,
``chain.chain_visit_bounded``), which tops out ~21 MB/s single-proc because ~60% of the
match work is at positions the chain never visits.  In C the greedy rule
is one static inline match step (``p4s_fsst_match``: the 8-byte window
load, the lut2 probe, the mask/value compare and the end-of-segment
guard), which the paired-segment encode kernel (``p4s_fsst_encode2``)
and the training loop (``p4s_fsst_train``) both call, and it runs at
memory speed.  The kernel is compiled ON FIRST USE with the system C
compiler (cc -O3) into a cached shared object; any failure (no
compiler, read-only cache, sandbox) falls back to the numpy path.  The
reason is kept in ``error`` (the exception text plus the tail of the
compiler's stderr) and named in one RuntimeWarning per process.  The
fallback changes speed only: both paths write the same bytes.  Set
``P4S_NO_NATIVE=1`` to force the fallback without a warning (tests
exercise both paths and assert byte-identical output).

Semantics are pinned to the numpy path: same LUT tables (lut2 sentinel
entry makes the window compare unconditionally false), same
zero-padded-window tail guard (a match may not run past the buffer), and
the caller segments the input identically, so tokenization is
bit-reproducible whichever path runs.  Symbol-table training runs its
whole loop in C (``p4s_fsst_train``), pinned to the numpy training loop
the same way.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import warnings

_SRC = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* FSST symbol tables as the kernels read them: the SymbolTable
   code-indexed arrays (fsst.py).
   lut1[256]  byte -> 1-byte symbol code, miss = 255 (escape);
   lut2[65536] 2-byte prefix -> multi-byte symbol code, miss = 254
              (sentinel: masks[254]=0, vals[254]=~0 -> compare false);
   lens[256] / vals[256] / masks[256] code -> length / value / mask. */
typedef struct {
    const uint8_t *lut1, *lut2;
    const int8_t *lens;
    const uint64_t *vals, *masks;
} p4s_fsst_tab;

/* The FSST greedy step, the one copy of the match rule (fsst._match is
   its numpy twin; encode and training both call it): the longest symbol
   at data[i] that does not run past end.  Stores the 8-byte window,
   zero-padded past end, in *win and the token's code in *code (255 =
   escape: the literal byte follows it); returns the token length. */
static inline long p4s_fsst_match(
    const p4s_fsst_tab *t, const uint8_t *data, long i, long end,
    uint64_t *win, uint8_t *code)
{
    uint64_t w = 0;
    if (end - i >= 8) memcpy(&w, data + i, 8);
    else memcpy(&w, data + i, (size_t)(end - i));
    *win = w;
    uint8_t c2 = t->lut2[(uint16_t)w];
    long L = t->lens[c2];
    if (((w & t->masks[c2]) == t->vals[c2]) && (i + L <= end)) { *code = c2; return L; }
    *code = t->lut1[data[i]];
    return 1;
}

typedef struct { const uint8_t *data; long i, n; uint8_t *out; long o; } p4s_fsst_stream;

/* One greedy token of a stream, emitted: its code, and after an escape
   the literal byte. */
static inline void p4s_fsst_emit(const p4s_fsst_tab *t, p4s_fsst_stream *s)
{
    uint64_t win;
    uint8_t c;
    long L = p4s_fsst_match(t, s->data, s->i, s->n, &win, &c);
    s->out[s->o++] = c;
    if (c == 255) s->out[s->o++] = s->data[s->i];
    s->i += L;
}

/* FSST encode of two independent segments in ONE interleaved loop: the
   greedy chain is serially dependent (the next position depends on the
   match length), so a single stream stalls on the 64 KiB lut2 lookup
   latency; two streams hide it.  Each segment's bytes are those of a
   greedy pass over it alone; nb = 0 encodes one segment.  Each output
   needs 2x its segment's bytes worst case.  Writes stream B's length
   to *ob_out; returns stream A's. */
long p4s_fsst_encode2(
    const uint8_t *da, long na, const uint8_t *db, long nb,
    const uint8_t *lut1, const uint8_t *lut2,
    const int8_t *lens, const uint64_t *vals, const uint64_t *masks,
    uint8_t *outa, uint8_t *outb, long *ob_out)
{
    const p4s_fsst_tab t = {lut1, lut2, lens, vals, masks};
    p4s_fsst_stream a = {da, 0, na, outa, 0}, b = {db, 0, nb, outb, 0};
    while (a.i < a.n && b.i < b.n) {
        p4s_fsst_emit(&t, &a);
        p4s_fsst_emit(&t, &b);
    }
    while (a.i < a.n) p4s_fsst_emit(&t, &a);
    while (b.i < b.n) p4s_fsst_emit(&t, &b);
    *ob_out = b.o;
    return a.o;
}

/* FSST symbol-table training (fsst.train_symbol_table), bit-identical to
   the numpy path: per iteration, greedy-tokenize the sample with the
   current table (256 KiB segments, tokens never span one), count every
   token and every adjacent token pair of <= 8 bytes as a (value, length)
   candidate, rank by gain = count x length desc, then length asc, then
   value asc, keep only the best multi-byte symbol per 2-byte prefix and
   take the first 254.  Table construction mirrors SymbolTable.__init__.
   Candidates of 1 and 2 bytes are counted in direct-indexed arrays; only
   the longer ones go through a hash table. */
#define P4S_SEG (1L << 18)
#define P4S_MAX_SYMBOLS 254
#define P4S_SENTINEL 254

typedef struct { uint64_t v; int64_t cnt; int64_t len; } p4s_cand;

typedef struct {
    p4s_cand *slots;  /* len == 0 marks an empty slot */
    long cap, used;
} p4s_ctab;

typedef struct {
    p4s_ctab t;         /* candidates of 3..8 bytes */
    int64_t cnt1[256];  /* 1-byte candidates by value */
    uint32_t *cnt2;     /* 2-byte candidates by value (65536) */
} p4s_counts;

static uint64_t p4s_len_mask(long L)
{
    return L >= 8 ? ~0ULL : ((1ULL << (8 * L)) - 1);
}

static long p4s_slot(const p4s_ctab *t, uint64_t v, long len)
{
    uint64_t h = v ^ ((uint64_t)len << 58);  /* splitmix64 finalizer */
    h = (h ^ (h >> 30)) * 0xBF58476D1CE4E5B9ULL;
    h = (h ^ (h >> 27)) * 0x94D049BB133111EBULL;
    long i = (long)((h ^ (h >> 31)) & (uint64_t)(t->cap - 1));
    while (t->slots[i].len && (t->slots[i].v != v || t->slots[i].len != len))
        i = (i + 1) & (t->cap - 1);
    return i;
}

static int p4s_ctab_grow(p4s_ctab *t)
{
    p4s_ctab g = {calloc((size_t)t->cap * 2, sizeof(p4s_cand)), t->cap * 2, t->used};
    if (!g.slots) return -1;
    for (long i = 0; i < t->cap; i++)
        if (t->slots[i].len) g.slots[p4s_slot(&g, t->slots[i].v, t->slots[i].len)] = t->slots[i];
    free(t->slots);
    *t = g;
    return 0;
}

static int p4s_count(p4s_counts *c, uint64_t v, long len)
{
    if (len == 1) { c->cnt1[v]++; return 0; }
    if (len == 2) { c->cnt2[v]++; return 0; }
    p4s_ctab *t = &c->t;
    long i = p4s_slot(t, v, len);
    if (t->slots[i].len) { t->slots[i].cnt++; return 0; }
    t->slots[i].v = v; t->slots[i].len = len; t->slots[i].cnt = 1;
    if (2 * ++t->used > t->cap) return p4s_ctab_grow(t);
    return 0;
}

static int p4s_cand_rank(const void *pa, const void *pb)
{
    const p4s_cand *a = pa, *b = pb;
    int64_t ga = a->cnt * a->len, gb = b->cnt * b->len;
    if (ga != gb) return ga > gb ? -1 : 1;
    if (a->len != b->len) return a->len < b->len ? -1 : 1;
    if (a->v != b->v) return a->v < b->v ? -1 : 1;
    return 0;
}

/* Keep the P4S_MAX_SYMBOLS best-ranked candidates offered so far in a
   binary heap whose root is the worst of them. */
static void p4s_heap_offer(p4s_cand *h, long *nh, const p4s_cand *c)
{
    long i;
    if (*nh < P4S_MAX_SYMBOLS) {
        i = (*nh)++;
        while (i > 0 && p4s_cand_rank(c, &h[(i - 1) / 2]) > 0) {
            h[i] = h[(i - 1) / 2];
            i = (i - 1) / 2;
        }
        h[i] = *c;
        return;
    }
    if (p4s_cand_rank(c, &h[0]) >= 0) return;
    i = 0;
    for (;;) {
        long k = 2 * i + 1;
        if (k >= *nh) break;
        if (k + 1 < *nh && p4s_cand_rank(&h[k + 1], &h[k]) > 0) k++;
        if (p4s_cand_rank(&h[k], c) <= 0) break;
        h[i] = h[k];
        i = k;
    }
    h[i] = *c;
}

static void p4s_fsst_tables(
    const uint64_t *sv, const int64_t *sl, long ns,
    uint8_t *lut1, uint8_t *lut2, int8_t *lens, uint64_t *vals, uint64_t *masks)
{
    memset(vals, 0, 256 * sizeof(uint64_t));
    memset(lens, 0, 256);
    for (long c = 0; c < ns; c++) { vals[c] = sv[c]; lens[c] = (int8_t)sl[c]; }
    for (long c = 0; c < 256; c++) masks[c] = p4s_len_mask(lens[c]);
    vals[P4S_SENTINEL] = ~0ULL; masks[P4S_SENTINEL] = 0; lens[P4S_SENTINEL] = 1;
    memset(lut1, 255, 256);
    memset(lut2, P4S_SENTINEL, 65536);
    for (long c = 0; c < ns; c++) {
        if (sl[c] == 1) {
            lut1[sv[c] & 0xFF] = (uint8_t)c;
        } else {
            uint16_t prefix = (uint16_t)sv[c];
            uint8_t cur = lut2[prefix];
            if (cur == P4S_SENTINEL || lens[cur] < sl[c]) lut2[prefix] = (uint8_t)c;
        }
    }
}

/* Returns the symbol count written to out_vals/out_lens (capacity 254),
   or -1 when an allocation fails. */
long p4s_fsst_train(
    const uint8_t *data, long n, long iterations,
    uint64_t *out_vals, int64_t *out_lens)
{
    uint8_t lut1[256], lut2[65536];
    int8_t lens[256];
    uint64_t vals[256], masks[256];
    const p4s_fsst_tab t = {lut1, lut2, lens, vals, masks};
    p4s_cand heap[P4S_MAX_SYMBOLS];
    long ns = 0, rc = -1;
    uint32_t *best = malloc(65536 * sizeof(uint32_t));
    p4s_counts c = {{calloc(1024, sizeof(p4s_cand)), 1024, 0}, {0}, malloc(65536 * sizeof(uint32_t))};
    if (!best || !c.t.slots || !c.cnt2) goto done;
    for (long it = 0; it < iterations; it++) {
        p4s_fsst_tables(out_vals, out_lens, ns, lut1, lut2, lens, vals, masks);
        memset(c.t.slots, 0, (size_t)c.t.cap * sizeof(p4s_cand));
        c.t.used = 0;
        memset(c.cnt1, 0, sizeof(c.cnt1));
        memset(c.cnt2, 0, 65536 * sizeof(uint32_t));
        uint64_t pv = 0;
        long pl = 0;  /* previous token (pairs span segment boundaries) */
        for (long s0 = 0; s0 < n; s0 += P4S_SEG) {
            long end = n - s0 < P4S_SEG ? n : s0 + P4S_SEG;
            long i = s0;
            while (i < end) {
                uint64_t win;
                uint8_t code;
                long L = p4s_fsst_match(&t, data, i, end, &win, &code);
                uint64_t v = win & p4s_len_mask(L);
                if (p4s_count(&c, v, L)) goto done;
                if (pl && pl + L <= 8 && p4s_count(&c, pv | (v << (8 * pl)), pl + L)) goto done;
                pv = v; pl = L;
                i += L;
            }
        }
        /* the kept set is every 1-byte candidate plus the best-ranked
           multi-byte candidate per 2-byte prefix; its first 254 in rank
           order are the 254 best, held in a worst-on-top heap */
        long nh = 0;
        for (long b = 0; b < 256; b++) {
            if (!c.cnt1[b]) continue;
            p4s_cand one = {(uint64_t)b, c.cnt1[b], 1};
            p4s_heap_offer(heap, &nh, &one);
        }
        memset(best, 0, 65536 * sizeof(uint32_t));
        for (long i = 0; i < c.t.cap; i++) {
            const p4s_cand *x = &c.t.slots[i];
            if (!x->len) continue;
            uint32_t *b = &best[(uint16_t)x->v];
            if (!*b || p4s_cand_rank(x, &c.t.slots[*b - 1]) < 0) *b = (uint32_t)i + 1;
        }
        for (long p = 0; p < 65536; p++) {
            p4s_cand two = {(uint64_t)p, c.cnt2[p], 2};
            const p4s_cand *x = c.cnt2[p] ? &two : NULL;
            if (best[p] && (!x || p4s_cand_rank(&c.t.slots[best[p] - 1], x) < 0))
                x = &c.t.slots[best[p] - 1];
            if (x) p4s_heap_offer(heap, &nh, x);
        }
        qsort(heap, (size_t)nh, sizeof(p4s_cand), p4s_cand_rank);
        for (ns = 0; ns < nh; ns++) {
            out_vals[ns] = heap[ns].v;
            out_lens[ns] = heap[ns].len;
        }
    }
    rc = ns;
done:
    free(best); free(c.t.slots); free(c.cnt2);
    return rc;
}

/* Decode one FSST token payload segment: codes expand from the (256 x 8)
   symbol byte matrix; code 255 escapes the following literal byte.
   Returns the number of output bytes (caller sizes out for the worst
   case: 8 bytes per payload byte), or -1 on a malformed trailing escape
   byte (the numpy fallback raises on the same corruption; silently
   truncating would mask page corruption as shortened data). */
long p4s_fsst_decode(
    const uint8_t *payload, long n,
    const uint8_t *matrix, const int8_t *lens,
    uint8_t *out)
{
    long i = 0, o = 0;
    while (i < n) {
        uint8_t c = payload[i];
        if (c == 255) {
            if (i + 1 >= n) return -1;  /* malformed trailing escape */
            out[o++] = payload[i + 1];
            i += 2;
        } else {
            /* unconditional 8-byte copy; o advances by the true length, so
               pad bytes are overwritten by the next token */
            memcpy(out + o, matrix + ((long)c << 3), 8);
            o += lens[c];
            i += 1;
        }
    }
    return o;
}

/* PLAIN BYTE_ARRAY encode: interleave u32-LE length prefixes with value
   bytes.  The numpy path scatters every payload byte through an int64
   fancy index (8 B of index traffic per payload byte); here it is one
   memcpy per value.  Returns the total bytes written. */
long p4s_plain_ba_encode(
    const int64_t *lengths, long n, const uint8_t *payload, uint8_t *out)
{
    long o = 0, p = 0;
    for (long i = 0; i < n; i++) {
        uint32_t L = (uint32_t)lengths[i];
        memcpy(out + o, &L, 4);
        memcpy(out + o + 4, payload + p, (size_t)lengths[i]);
        o += 4 + lengths[i];
        p += lengths[i];
    }
    return o;
}

/* Lexicographic min/max of zero-padded k-byte prefixes over a ragged
   column (BYTE_ARRAY chunk stats).  Tie semantics match the stable
   lexsort the numpy path uses: min keeps the FIRST tied row, max keeps
   the LAST.  out = {lo_index, hi_index, min_tied_prefix_len}. */
static int p4s_cmp_padded(const uint8_t *a, long la, const uint8_t *b, long lb)
{
    long m = la < lb ? la : lb;
    int c = memcmp(a, b, (size_t)m);
    if (c) return c;
    for (long i = m; i < la; i++) if (a[i]) return 1;
    for (long i = m; i < lb; i++) if (b[i]) return -1;
    return 0;
}

void p4s_ba_stats(
    const uint8_t *payload, const int64_t *lengths, long n, long k,
    int64_t *out)
{
    const uint8_t *p = payload;
    const uint8_t *plo = payload, *phi = payload;
    long llo = lengths[0] < k ? lengths[0] : k;
    long lhi = llo;
    long lo = 0, hi = 0;
    p += lengths[0];
    for (long i = 1; i < n; i++) {
        long li = lengths[i] < k ? lengths[i] : k;
        if (p4s_cmp_padded(p, li, plo, llo) < 0) { lo = i; plo = p; llo = li; }
        if (p4s_cmp_padded(p, li, phi, lhi) >= 0) { hi = i; phi = p; lhi = li; }
        p += lengths[i];
    }
    /* shortest tied prefix length among rows whose padded prefix equals
       the minimum (embedded-NUL ties; see _chunk_stats) */
    long min_len = llo;
    p = payload;
    for (long i = 0; i < n; i++) {
        long li = lengths[i] < k ? lengths[i] : k;
        if (p4s_cmp_padded(p, li, plo, llo) == 0 && li < min_len) min_len = li;
        p += lengths[i];
    }
    out[0] = lo; out[1] = hi; out[2] = min_len;
}

/* Paired FNV-1a-64 over each ragged value (bloom.bytes_hashes): the
   numpy path is one masked pass per byte POSITION; here the value stays
   in cache and both hashes update per byte. */
void p4s_bloom_bytes_hashes(
    const uint8_t *payload, const int64_t *lengths, long n,
    uint64_t *h1, uint64_t *h2)
{
    const uint64_t PRIME = 0x100000001B3ULL;
    const uint8_t *p = payload;
    for (long i = 0; i < n; i++) {
        uint64_t a = 0xCBF29CE484222325ULL;
        uint64_t b = 0x84222325CBF29CE4ULL;
        for (long j = 0; j < lengths[i]; j++) {
            a = (a ^ p[j]) * PRIME;
            b = (b ^ p[j]) * PRIME;
        }
        h1[i] = a; h2[i] = b;
        p += lengths[i];
    }
}

/* DELTA_BINARY_PACKED block emission (everything after the 4-field
   header): per 256-value block, signed min over the wrapped deltas,
   zigzag-ULEB128 min, all 8 miniblock width bytes, LSB-first bit-packed
   (delta - min) per used miniblock.  du = wrapped deltas already masked
   to nbytes*8 bits (computed vectorized in numpy); byte-identical to
   delta.dbp_encode's python assembly.  Returns bytes written. */
static long p4s_uleb(uint64_t v, uint8_t *out)
{
    long o = 0;
    while (v & ~0x7FULL) { out[o++] = (uint8_t)(v & 0x7F) | 0x80; v >>= 7; }
    out[o++] = (uint8_t)(v & 0x7F);
    return o;
}

long p4s_dbp_blocks(
    const uint64_t *du, long n_deltas, int nbytes, uint8_t *out)
{
    const long BLOCK = 256, MBS = 8, VPMB = 32;
    long o = 0;
    for (long start = 0; start < n_deltas; start += BLOCK) {
        long len = n_deltas - start < BLOCK ? n_deltas - start : BLOCK;
        const uint64_t *b = du + start;
        int64_t mn;
        if (nbytes == 4) {
            int32_t m = (int32_t)(uint32_t)b[0];
            for (long i = 1; i < len; i++) {
                int32_t v = (int32_t)(uint32_t)b[i];
                if (v < m) m = v;
            }
            mn = m;
        } else {
            int64_t m = (int64_t)b[0];
            for (long i = 1; i < len; i++) {
                int64_t v = (int64_t)b[i];
                if (v < m) m = v;
            }
            mn = m;
        }
        uint64_t mask = nbytes == 4 ? 0xFFFFFFFFULL : ~0ULL;
        uint64_t mdu = (uint64_t)mn & mask;
        /* zigzag64 of the sign-extended min */
        uint64_t zz = ((uint64_t)mn << 1) ^ (uint64_t)(mn >> 63);
        o += p4s_uleb(zz, out + o);
        long used = (len + VPMB - 1) / VPMB;
        uint8_t widths[8] = {0, 0, 0, 0, 0, 0, 0, 0};
        uint64_t rel[256];
        for (long i = 0; i < len; i++) rel[i] = (b[i] - mdu) & mask;
        for (long i = len; i < used * VPMB; i++) rel[i] = 0;
        for (long mb = 0; mb < used; mb++) {
            uint64_t mx = 0;
            for (long i = 0; i < VPMB; i++) {
                uint64_t v = rel[mb * VPMB + i];
                if (v > mx) mx = v;
            }
            int w = 0;
            while (mx) { w++; mx >>= 1; }
            widths[mb] = (uint8_t)w;
        }
        for (long mb = 0; mb < MBS; mb++) out[o++] = widths[mb];
        for (long mb = 0; mb < used; mb++) {
            int w = widths[mb];
            if (w == 0) continue;
            /* 128-bit accumulator: nbits stays < 8 after draining, so
               nbits + w <= 71 always fits */
            unsigned __int128 acc = 0;
            int nbits = 0;
            for (long i = 0; i < VPMB; i++) {
                acc |= (unsigned __int128)rel[mb * VPMB + i] << nbits;
                nbits += w;
                while (nbits >= 8) {
                    out[o++] = (uint8_t)acc;
                    acc >>= 8;
                    nbits -= 8;
                }
            }
            if (nbits > 0) out[o++] = (uint8_t)acc;
        }
    }
    return o;
}

/* MinHash signatures over k-byte-gram rolling hashes, one fused pass.
   Bit-identical to the numpy path in operators/dedup.py: per gram,
   h = polynomial hash with multiplier 1099511628211 (uint64 wraparound);
   hp = h % (2^31-1); per permutation i, t = hp*a[i]+b[i] reduced by TWO
   Mersenne folds (t = (t & p) + (t >> 31)) and one conditional subtract;
   sig[d][i] = min over the doc's grams.  A doc shorter than k grams
   contributes the single sentinel hash 0 (hp = 0), exactly like the
   numpy stream.  The numpy path walks the gram stream once per
   permutation (64 full-stream passes of ~8 memory ops each); here the
   gram hash stays in a register and the nh minima stay in L1. */
void p4s_minhash(
    const uint8_t *payload, const int64_t *doc_bytes, long ndocs, long k,
    const uint64_t *a, const uint64_t *b, long nh, int64_t *out)
{
    const uint64_t MULT = 1099511628211ULL;
    const uint64_t P = 2147483647ULL;
    uint64_t mk = 1;                      /* MULT^(k-1) for the roll */
    for (long j = 0; j < k - 1; j++) mk *= MULT;
    uint64_t mins[256];                   /* caller guards nh <= 256 */
    const uint8_t *p = payload;
    for (long d = 0; d < ndocs; d++) {
        long nb = doc_bytes[d];
        long grams = nb - k + 1;
        int64_t *sig = out + d * nh;
        if (grams <= 0) {                 /* sentinel gram: hp = 0 */
            for (long i = 0; i < nh; i++) {
                uint64_t t = b[i];
                uint64_t hi = t >> 31; t &= P; t += hi;
                hi = t >> 31; t &= P; t += hi;
                if (t >= P) t -= P;
                sig[i] = (int64_t)t;
            }
            p += nb > 0 ? nb : 0;
            continue;
        }
        for (long i = 0; i < nh; i++) mins[i] = ~0ULL;
        uint64_t h = 0;
        for (long j = 0; j < k; j++) h = h * MULT + p[j];
        for (long g = 0; g < grams; g++) {
            uint64_t hp = h % P;
            for (long i = 0; i < nh; i++) {
                uint64_t t = hp * a[i] + b[i];
                uint64_t hi = t >> 31; t &= P; t += hi;
                hi = t >> 31; t &= P; t += hi;
                if (t >= P) t -= P;
                if (t < mins[i]) mins[i] = t;
            }
            if (g + 1 < grams)
                h = (h - (uint64_t)p[g] * mk) * MULT + p[g + k];
        }
        for (long i = 0; i < nh; i++) sig[i] = (int64_t)mins[i];
        p += nb;
    }
}
"""

_lib = None
_tried = False
error: str | None = None  # why the kernel did not load (None: loaded or not tried)


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "p4s_native")


def _build() -> str:
    """Compile (or reuse) the kernel .so; returns its path, raises on failure."""
    tag = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    d = _cache_dir()
    so = os.path.join(d, f"fsst_{tag}.so")
    if os.path.exists(so):
        return so
    os.makedirs(d, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=d) as td:
        c = os.path.join(td, "k.c")
        tmp_so = os.path.join(td, "k.so")
        with open(c, "w") as f:
            f.write(_SRC)
        subprocess.run(
            ["cc", "-O3", "-fPIC", "-shared", "-o", tmp_so, c],
            check=True, capture_output=True, timeout=60,
        )
        os.replace(tmp_so, so)  # atomic: concurrent workers race safely
    return so


def get_kernel():
    """The loaded ctypes library, or None (numpy fallback)."""
    global _lib, _tried, error
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("P4S_NO_NATIVE"):
        return None
    try:
        lib = ctypes.CDLL(_build())
        lib.p4s_fsst_encode2.restype = ctypes.c_long
        lib.p4s_fsst_encode2.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ]
        lib.p4s_fsst_train.restype = ctypes.c_long
        lib.p4s_fsst_train.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p,
        ]
        lib.p4s_fsst_decode.restype = ctypes.c_long
        lib.p4s_fsst_decode.argtypes = [
            ctypes.c_void_p, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ]
        lib.p4s_minhash.restype = None
        lib.p4s_minhash.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
        ]
        lib.p4s_dbp_blocks.restype = ctypes.c_long
        lib.p4s_dbp_blocks.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_void_p,
        ]
        lib.p4s_plain_ba_encode.restype = ctypes.c_long
        lib.p4s_plain_ba_encode.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_void_p,
        ]
        lib.p4s_ba_stats.restype = None
        lib.p4s_ba_stats.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long, ctypes.c_long,
            ctypes.c_void_p,
        ]
        lib.p4s_bloom_bytes_hashes.restype = None
        lib.p4s_bloom_bytes_hashes.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long,
            ctypes.c_void_p, ctypes.c_void_p,
        ]
        _lib = lib
    except Exception as e:
        stderr = getattr(e, "stderr", None) or b""
        tail = stderr[-2000:].decode(errors="replace").strip()
        error = f"{type(e).__name__}: {e}" + (f"\n{tail}" if tail else "")
        warnings.warn(
            f"p4s native kernel unavailable, using the numpy fallback: {error}",
            RuntimeWarning, stacklevel=2,
        )
    return _lib
