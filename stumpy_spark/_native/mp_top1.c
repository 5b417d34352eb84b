/* Compiled top-1 matrix-profile kernel for integer series.
 *
 * One diagonal-STOMP loop, mp_top1_block, computes the top-1 running
 * minima of any block of the distance matrix — rows [r0, r1) of series
 * A against columns [c0, c1) of series B, self-join or AB-join — over
 * lane groups of K consecutive diagonals.  QT along diagonal d evolves
 * by the exact recurrence
 *     QT[i,d] = QT[i-1,d] + A[i+m-1]*B[i+d+m-1] - A[i-1]*B[i+d-1]
 * (reference stomp.py:146-149) from a head dot product at the lane's
 * first row of the block.  mp_window_stats checks each series'
 * eligibility once: all values integral, finite, |T| <= 2^25 and
 * m*max^2 < 2^52, so every partial dot product is an exactly
 * representable float64 integer and the recurrence is drift-free: a
 * cell's QT is the same exact integer wherever its diagonal starts, so
 * every cell — and every block result — is bit-identical whatever the
 * blocking.  The arithmetic is fixed operation by operation (compile
 * with -ffp-contract=off so no FMA contraction changes the rounding
 * route):
 *
 *   stats   : float64 sequential cumsums, mu = ws/m,
 *             var = ws2/m - mu*mu (clamped >= 0), sig = sqrt(var)
 *   scale   : negfac = -2/sig, rsig = 1/sig,
 *             gvec = -(m*mu)*negfac, murs = mu*rsig
 *   cell    : E = (QT*negfac[i])*rsig[j] + murs[j]*gvec[i]
 *             (the shifted squared distance D^2 - 2m of
 *             _QTProvider.xdist), snapped to exactly -2m below
 *             P_NORM_THRESHOLD - 2m
 *   minima  : right side (row i, neighbors j > i): strict < keeps the
 *             smallest j on ties (candidates arrive ascending j);
 *             left side (column j, neighbors i < j): explicit
 *             (E < pl) || (E == pl && i < il) keeps the smallest i on
 *             ties regardless of arrival order — the same net tie rule
 *             as the numpy tile sweep (kernels._top1_sweep).
 *
 * In the full region of a self-join lane group (all K lanes alive),
 * row i touches columns j0 .. j0+K-1 (j0 = i + d0) and row i+1 the same
 * window shifted by one.  Loading and storing those column minima from
 * memory every row would read back, one row later, values the previous
 * row's stores have not yet retired (a load-after-store stall on every
 * row), so the window lives in registers instead: each row retires
 * column j0-1, final for this lane group, with one scalar store, shifts
 * the window down one lane and pulls column j0+K-1 in with one scalar
 * load.  Each column still sees its rows in the same order, so the
 * minima are bit-identical to a memory-resident update.
 *
 * mp_top1_self_int is the whole self-join of one series: its stats,
 * then one block over the full square.  mp_summary_batch does the same
 * for every doc of a flat Arrow batch (values + offsets) and reduces
 * each profile to its summary (motif, discord) in the same call.
 *
 * Series with any constant window (sig == 0) or non-integer /
 * non-finite values get a nonzero status and the caller falls back
 * to the numpy GEMM tile sweep (which carries the full special-case
 * contract).
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>

#if defined(__AVX512F__)
#include <immintrin.h>
#endif

#define K 16

/* Single-pass sliding-window stats over a batch of concatenated
 * integer token sequences (the flat Arrow layout: values + offsets).
 *
 * For every document d with n >= m tokens, emits over its n-m+1
 * windows: the int64 sum of window sums, min/max window mean and
 * min/max window std — the same quantities as the numpy path, from the
 * same arithmetic: window sums are exact int64 (rolling update
 * ws += t[i+m-1] - t[i-1] equals the cumsum difference exactly),
 * mean = ws/m, var = ws2/m - mean*mean clamped at 0, std = sqrt(var).
 * Outputs are bit-identical to the numpy implementation; this version
 * makes ONE pass over the tokens with O(1) state instead of ~15
 * full-length numpy passes (cumsums, squares, diffs, reduceats) — the
 * difference between DRAM-bound and register-bound on this workload.
 *
 * n_windows[d] = 0 marks ineligible (n < m) documents; their other
 * outputs are unspecified. */
void sliding_stats_int32(const int32_t *restrict vals,
                         const int64_t *restrict off, int64_t n_docs,
                         int64_t m,
                         int32_t *restrict n_windows,
                         int64_t *restrict sum_ws,
                         double *restrict min_mean,
                         double *restrict max_mean,
                         double *restrict min_std,
                         double *restrict max_std)
{
    const double dm = (double)m;
    for (int64_t d = 0; d < n_docs; d++) {
        int64_t s = off[d], e = off[d + 1];
        int64_t n = e - s;
        if (n < m) {
            n_windows[d] = 0;
            continue;
        }
        const int32_t *t = vals + s;
        /* unsigned accumulators: sums of squares of large tokens wrap
         * modulo 2^64 exactly like numpy's int64 cumsums, and unsigned
         * wrap (unlike signed overflow) is defined behaviour */
        uint64_t ws = 0, ws2 = 0;
        for (int64_t i = 0; i < m; i++) {
            uint64_t v = (uint64_t)(int64_t)t[i];
            ws += v;
            ws2 += v * v;
        }
        uint64_t acc = ws;
        double mu = (double)(int64_t)ws / dm;
        double var = (double)(int64_t)ws2 / dm - mu * mu;
        if (var < 0.0)
            var = 0.0;
        double sd = sqrt(var);
        double mn_mu = mu, mx_mu = mu, mn_sd = sd, mx_sd = sd;
        for (int64_t i = m; i < n; i++) {
            uint64_t add = (uint64_t)(int64_t)t[i];
            uint64_t sub = (uint64_t)(int64_t)t[i - m];
            ws += add - sub;
            ws2 += add * add - sub * sub;
            acc += ws;
            mu = (double)(int64_t)ws / dm;
            var = (double)(int64_t)ws2 / dm - mu * mu;
            if (var < 0.0)
                var = 0.0;
            sd = sqrt(var);
            mn_mu = mu < mn_mu ? mu : mn_mu;
            mx_mu = mu > mx_mu ? mu : mx_mu;
            mn_sd = sd < mn_sd ? sd : mn_sd;
            mx_sd = sd > mx_sd ? sd : mx_sd;
        }
        n_windows[d] = (int32_t)(n - m + 1);
        sum_ws[d] = (int64_t)acc;
        min_mean[d] = mn_mu;
        max_mean[d] = mx_mu;
        min_std[d] = mn_sd;
        max_std[d] = mx_sd;
    }
}

/* Eligibility scan of mp_window_stats: 0 when every value is
 * integral and finite, |T| <= 2^25 and m*max^2 < 2^52, else 1. */
static int window_eligible(const double *restrict T, int64_t n, int64_t m)
{
    if (n - m + 1 < 1 || m < 1)
        return 1;
    double mx = 0.0;
    for (int64_t i = 0; i < n; i++) {
        double v = T[i];
        if (!isfinite(v) || v != floor(v))
            return 1;
        double a = fabs(v);
        if (a > mx)
            mx = a;
    }
    if (mx > 33554432.0)                            /* 2^25 */
        return 1;
    if ((double)m * mx * mx > 4503599627370496.0)   /* 2^52 */
        return 1;
    return 0;
}

/* The stats of an eligible series into st[4 * l], with the caller's
 * scratch cs[2 * (n + 1)] for the cumsums; 0, or 2 on a constant
 * window. */
static int window_stats_into(const double *restrict T, int64_t n,
                             int64_t m, double *restrict st,
                             double *restrict cs)
{
    int64_t l = n - m + 1;
    double *cs2 = cs + (n + 1);
    double *negfac = st, *rsig = st + l, *gvec = st + 2 * l,
           *murs = st + 3 * l;
    const double dm = (double)m;
    cs[0] = 0.0;
    cs2[0] = 0.0;
    double a1 = 0.0, a2 = 0.0;
    for (int64_t i = 0; i < n; i++) {
        a1 += T[i];
        a2 += T[i] * T[i];
        cs[i + 1] = a1;
        cs2[i + 1] = a2;
    }
    for (int64_t i = 0; i < l; i++) {
        double mu = (cs[i + m] - cs[i]) / dm;
        double var = (cs2[i + m] - cs2[i]) / dm - mu * mu;
        if (var < 0.0)
            var = 0.0;
        double sig = sqrt(var);
        if (sig == 0.0)               /* constant window: fall back */
            return 2;
        double nf = -2.0 / sig;
        negfac[i] = nf;
        rsig[i] = 1.0 / sig;
        gvec[i] = (-(dm * mu)) * nf;
        murs[i] = mu * rsig[i];
    }
    return 0;
}

/* Window stats of one series for mp_top1_block, four arrays of
 * l = n - m + 1 laid out back to back in st[4 * l]:
 *   negfac = -2/sig, rsig = 1/sig, gvec = -(m*mu)*negfac, murs = mu*rsig
 * from float64 sequential cumsums (bit-identical to numpy's
 * sliding_mean_std on this data).
 * status: 0 = done; 1 = ineligible (non-finite / non-integral /
 * magnitude bound, or n < m); 2 = constant window (sig == 0) present;
 * 3 = allocation failure. */
int mp_window_stats(const double *restrict T, int64_t n, int64_t m,
                    double *restrict st)
{
    int status = window_eligible(T, n, m);
    if (status)
        return status;
    double *cs = malloc((size_t)(2 * (n + 1)) * sizeof(double));
    if (cs == NULL)
        return 3;
    status = window_stats_into(T, n, m, st, cs);
    free(cs);
    return status;
}

/* One lane group: diagonals d0 .. d0+kb-1 of the block.  Lane k
 * (diagonal d = d0 + k) covers rows [s_k, e_k), both non-increasing in
 * k, so the rows split into a head [s_k, F0) where lanes start one by
 * one, a full region [F0, F1) where all kb lanes are alive, and a tail
 * [F1, e_k) where they end one by one.  Every lane's QT enters the full
 * region at row F0; rows inside a phase see their lanes in ascending k,
 * so the row side's strict < keeps the smallest j on ties.  ``cols`` is
 * a compile-time constant after inlining: 1 for a self-join (column
 * minima = left neighbors), 0 for an AB-join (row side only). */
static inline __attribute__((always_inline)) void
lane_group(const double *restrict A, const double *restrict B, int64_t m,
           const double *restrict negfac, const double *restrict gvec,
           const double *restrict rsig, const double *restrict murs,
           int64_t r0, int64_t r1, int64_t c0, int64_t c1, int64_t d0,
           int kb, double thr, double twom,
           double *restrict pr, int64_t *restrict ir,
           double *restrict pl, int64_t *restrict il, const int cols)
{
    double qt[K];
    double e[K];
    int64_t s[K], en[K];
    for (int k = 0; k < kb; k++) {
        int64_t d = d0 + k;
        s[k] = c0 - d > r0 ? c0 - d : r0;
        en[k] = c1 - d < r1 ? c1 - d : r1;
    }
    const int64_t F0 = s[0];
    const int64_t F1 = en[kb - 1] > F0 ? en[kb - 1] : F0;

#define CELL(i, j, q)                                                   \
    do {                                                                \
        double v_ = ((q) * negfac[i]) * rsig[j] + murs[j] * gvec[i];    \
        if (v_ < thr)                                                   \
            v_ = -twom;                                                 \
        if (cols) {                                                     \
            int64_t jc_ = (j) - c0;                                     \
            if (v_ < pl[jc_] || (v_ == pl[jc_] && (i) < il[jc_])) {     \
                pl[jc_] = v_;                                           \
                il[jc_] = (i);                                          \
            }                                                           \
        }                                                               \
        if (v_ < pr[(i) - r0]) {                                        \
            pr[(i) - r0] = v_;                                          \
            ir[(i) - r0] = (j);                                         \
        }                                                               \
    } while (0)
#define STEP(i, d)                                                      \
    (A[(i) + m - 1] * B[(i) + (d) + m - 1] - A[(i) - 1] * B[(i) + (d) - 1])

    /* head: exact integer dot at the lane's first row, then the
     * recurrence; a lane that reaches the full region leaves it at F0 */
    for (int k = 0; k < kb; k++) {
        int64_t d = d0 + k, sk = s[k];
        double q = 0.0;
        for (int64_t t = 0; t < m; t++)
            q += A[sk + t] * B[sk + d + t];
        int64_t hend = en[k] < F0 ? en[k] : F0;
        for (int64_t i = sk; i < hend; i++) {
            if (i > sk)
                q += STEP(i, d);
            CELL(i, i + d, q);
        }
        if (en[k] > F0 && sk < F0)
            q += STEP(F0, d);
        qt[k] = q;
    }

    if (kb == K) {
#if defined(__AVX512F__)
        /* two zmm blocks (16 lanes) interleaved for ILP; every
         * arithmetic op is a per-lane IEEE mul/sub/add (no FMA), so
         * lane values are bit-identical to the scalar route */
        __m512d qtv0 = _mm512_loadu_pd(qt);
        __m512d qtv1 = _mm512_loadu_pd(qt + 8);
        const __m512d thrv = _mm512_set1_pd(thr);
        const __m512d ntwomv = _mm512_set1_pd(-twom);
        /* the column window: minima of columns j0 .. j0+15 of the
         * current row, lanes 0-7 in (plv0, ilv0), 8-15 in (plv1, ilv1) */
        __m512d plv0 = ntwomv, plv1 = ntwomv;
        __m512i ilv0 = _mm512_setzero_si512(), ilv1 = ilv0;
        if (cols && F1 > F0) {
            plv0 = _mm512_loadu_pd(pl + (F0 + d0 - c0));
            plv1 = _mm512_loadu_pd(pl + (F0 + d0 - c0) + 8);
            ilv0 = _mm512_loadu_si512(il + (F0 + d0 - c0));
            ilv1 = _mm512_loadu_si512(il + (F0 + d0 - c0) + 8);
        }
        for (int64_t i = F0; i < F1; i++) {
            int64_t j0 = i + d0;
            if (i > F0) {
                __m512d ta = _mm512_set1_pd(A[i + m - 1]);
                __m512d ts = _mm512_set1_pd(A[i - 1]);
                __m512d Ta0 = _mm512_loadu_pd(B + j0 + m - 1);
                __m512d Ts0 = _mm512_loadu_pd(B + j0 - 1);
                __m512d Ta1 = _mm512_loadu_pd(B + j0 + m + 7);
                __m512d Ts1 = _mm512_loadu_pd(B + j0 + 7);
                qtv0 = _mm512_add_pd(qtv0,
                    _mm512_sub_pd(_mm512_mul_pd(ta, Ta0),
                                  _mm512_mul_pd(ts, Ts0)));
                qtv1 = _mm512_add_pd(qtv1,
                    _mm512_sub_pd(_mm512_mul_pd(ta, Ta1),
                                  _mm512_mul_pd(ts, Ts1)));
                if (cols) {
                    /* retire column j0-1 (final for this lane group),
                     * shift the window down one lane, pull j0+15 in */
                    int64_t jc = j0 - c0;
                    pl[jc - 1] = _mm512_cvtsd_f64(plv0);
                    il[jc - 1] = _mm_cvtsi128_si64(
                        _mm512_castsi512_si128(ilv0));
                    plv0 = _mm512_castsi512_pd(_mm512_alignr_epi64(
                        _mm512_castpd_si512(plv1),
                        _mm512_castpd_si512(plv0), 1));
                    ilv0 = _mm512_alignr_epi64(ilv1, ilv0, 1);
                    plv1 = _mm512_castsi512_pd(_mm512_alignr_epi64(
                        _mm512_castpd_si512(_mm512_set1_pd(pl[jc + 15])),
                        _mm512_castpd_si512(plv1), 1));
                    ilv1 = _mm512_alignr_epi64(
                        _mm512_set1_epi64(il[jc + 15]), ilv1, 1);
                }
            }
            __m512d nf = _mm512_set1_pd(negfac[i]);
            __m512d gv = _mm512_set1_pd(gvec[i]);
            __m512d ev0 = _mm512_add_pd(
                _mm512_mul_pd(_mm512_mul_pd(qtv0, nf),
                              _mm512_loadu_pd(rsig + j0)),
                _mm512_mul_pd(_mm512_loadu_pd(murs + j0), gv));
            __m512d ev1 = _mm512_add_pd(
                _mm512_mul_pd(_mm512_mul_pd(qtv1, nf),
                              _mm512_loadu_pd(rsig + j0 + 8)),
                _mm512_mul_pd(_mm512_loadu_pd(murs + j0 + 8), gv));
            ev0 = _mm512_mask_blend_pd(
                _mm512_cmp_pd_mask(ev0, thrv, _CMP_LT_OQ), ev0, ntwomv);
            ev1 = _mm512_mask_blend_pd(
                _mm512_cmp_pd_mask(ev1, thrv, _CMP_LT_OQ), ev1, ntwomv);
            if (cols) {
                __m512i iv = _mm512_set1_epi64(i);
                __mmask8 take0 =
                    _mm512_cmp_pd_mask(ev0, plv0, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev0, plv0, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv0));
                __mmask8 take1 =
                    _mm512_cmp_pd_mask(ev1, plv1, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev1, plv1, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv1));
                plv0 = _mm512_mask_blend_pd(take0, plv0, ev0);
                ilv0 = _mm512_mask_blend_epi64(take0, ilv0, iv);
                plv1 = _mm512_mask_blend_pd(take1, plv1, ev1);
                ilv1 = _mm512_mask_blend_epi64(take1, ilv1, iv);
            }
            /* row side: only when some lane beats the running minimum,
             * the min over both blocks, lowest j on ties */
            __m512d ev = _mm512_min_pd(ev0, ev1);
            if (_mm512_cmp_pd_mask(ev, _mm512_set1_pd(pr[i - r0]),
                                   _CMP_LT_OQ)) {
                double emin = _mm512_reduce_min_pd(ev);
                __m512d evm = _mm512_set1_pd(emin);
                __mmask8 em0 = _mm512_cmp_pd_mask(ev0, evm, _CMP_EQ_OQ);
                __mmask8 em1 = _mm512_cmp_pd_mask(ev1, evm, _CMP_EQ_OQ);
                pr[i - r0] = emin;
                ir[i - r0] = em0 ? j0 + __builtin_ctz((unsigned)em0)
                                 : j0 + 8 + __builtin_ctz((unsigned)em1);
            }
        }
        if (cols && F1 > F0) {
            int64_t jc = F1 - 1 + d0 - c0;
            _mm512_storeu_pd(pl + jc, plv0);
            _mm512_storeu_pd(pl + jc + 8, plv1);
            _mm512_storeu_si512(il + jc, ilv0);
            _mm512_storeu_si512(il + jc + 8, ilv1);
        }
        _mm512_storeu_pd(qt, qtv0);
        _mm512_storeu_pd(qt + 8, qtv1);
#else
        /* a local copy of the lanes' QT, which the compiler keeps in
         * registers across the loop (qt itself is indexed lane by lane
         * in the head and the tail) */
        double q16[K];
        for (int k = 0; k < K; k++)
            q16[k] = qt[k];
        /* the column window, as in the AVX-512 loop: minima of columns
         * j0 .. j0+15 of the current row */
        double wpl[K];
        int64_t wil[K];
        if (cols && F1 > F0)
            for (int k = 0; k < K; k++) {
                wpl[k] = pl[F0 + d0 - c0 + k];
                wil[k] = il[F0 + d0 - c0 + k];
            }
        for (int64_t i = F0; i < F1; i++) {
            int64_t j0 = i + d0;
            if (i > F0) {
                double ta = A[i + m - 1], ts = A[i - 1];
                const double *Ta = B + j0 + m - 1;
                const double *Ts = B + j0 - 1;
                for (int k = 0; k < K; k++)
                    q16[k] += ta * Ta[k] - ts * Ts[k];
                if (cols) {
                    int64_t jc = j0 - c0;
                    pl[jc - 1] = wpl[0];
                    il[jc - 1] = wil[0];
                    for (int k = 0; k < K - 1; k++) {
                        wpl[k] = wpl[k + 1];
                        wil[k] = wil[k + 1];
                    }
                    wpl[K - 1] = pl[jc + K - 1];
                    wil[K - 1] = il[jc + K - 1];
                }
            }
            double nf = negfac[i], gv = gvec[i];
            const double *rs = rsig + j0;
            const double *mr = murs + j0;
            for (int k = 0; k < K; k++) {
                double v = (q16[k] * nf) * rs[k] + mr[k] * gv;
                e[k] = (v < thr) ? -twom : v;
            }
            if (cols) {
                for (int k = 0; k < K; k++) {
                    double v = e[k];
                    int take = (v < wpl[k]) |
                               ((v == wpl[k]) & (i < wil[k]));
                    wpl[k] = take ? v : wpl[k];
                    wil[k] = take ? i : wil[k];
                }
            }
            double emin = e[0];
            int kmin = 0;
            for (int k = 1; k < K; k++)
                if (e[k] < emin) {
                    emin = e[k];
                    kmin = k;
                }
            if (emin < pr[i - r0]) {
                pr[i - r0] = emin;
                ir[i - r0] = j0 + kmin;
            }
        }
        if (cols && F1 > F0)
            for (int k = 0; k < K; k++) {
                pl[F1 - 1 + d0 - c0 + k] = wpl[k];
                il[F1 - 1 + d0 - c0 + k] = wil[k];
            }
        for (int k = 0; k < K; k++)
            qt[k] = q16[k];
#endif
    } else {
        for (int64_t i = F0; i < F1; i++) {
            if (i > F0)
                for (int k = 0; k < kb; k++)
                    qt[k] += STEP(i, d0 + k);
            for (int k = 0; k < kb; k++)
                CELL(i, i + d0 + k, qt[k]);
        }
    }

    /* tail: lane k continues alone for rows [F1, e_k), in ascending k */
    for (int k = 0; k < kb; k++) {
        int64_t d = d0 + k;
        double q = qt[k];
        for (int64_t i = F1; i < en[k]; i++) {
            if (i > F0)
                q += STEP(i, d);
            CELL(i, i + d, q);
        }
    }
#undef CELL
#undef STEP
    (void)e;
}

/* Top-1 running minima of one block of the distance matrix: rows
 * [r0, r1) of series A against columns [c0, c1) of series B, both
 * eligible for mp_window_stats and described by its stats sa / sb
 * (computed once per series, so a cell's value does not depend on the
 * blocking).  The diagonals d = j - i of the block run in lane groups
 * of K; a self-join (ez >= 0, A == B) evaluates only d > ez, i.e. the
 * upper triangle outside the exclusion band, and also tracks column
 * minima (left neighbors); an AB-join (ez < 0) evaluates every cell,
 * row side only.
 *
 * Outputs, in the shifted D^2 - 2m space, initialised here:
 * pr/ir[r1 - r0] row minima and their column index, pl/il[c1 - c0]
 * column minima and their row index (inf / -1 where absent; an
 * AB-join leaves them so). */
void mp_top1_block(const double *restrict A, const double *restrict sa,
                   int64_t na, const double *restrict B,
                   const double *restrict sb, int64_t nb, int64_t m,
                   int64_t r0, int64_t r1, int64_t c0, int64_t c1,
                   int64_t ez, double p_norm_threshold,
                   double *restrict pr, int64_t *restrict ir,
                   double *restrict pl, int64_t *restrict il)
{
    const int64_t la = na - m + 1, lb = nb - m + 1;
    const double twom = 2.0 * (double)m;
    const double thr = p_norm_threshold - twom;
    const double *negfac = sa, *gvec = sa + 2 * la;
    const double *rsig = sb + lb, *murs = sb + 3 * lb;

    for (int64_t i = 0; i < r1 - r0; i++) {
        pr[i] = INFINITY;
        ir[i] = -1;
    }
    for (int64_t j = 0; j < c1 - c0; j++) {
        pl[j] = INFINITY;
        il[j] = -1;
    }
    int64_t dlo = c0 - (r1 - 1);
    if (ez >= 0 && dlo < ez + 1)
        dlo = ez + 1;
    const int64_t dhi = c1 - 1 - r0;
    for (int64_t d0 = dlo; d0 <= dhi; d0 += K) {
        int kb = (int)((dhi - d0 + 1) < K ? (dhi - d0 + 1) : K);
        if (ez >= 0)
            lane_group(A, B, m, negfac, gvec, rsig, murs, r0, r1, c0, c1,
                       d0, kb, thr, twom, pr, ir, pl, il, 1);
        else
            lane_group(A, B, m, negfac, gvec, rsig, murs, r0, r1, c0, c1,
                       d0, kb, thr, twom, pr, ir, pl, il, 0);
    }
}

/* The whole top-1 self-join of one series: mp_window_stats, then
 * mp_top1_block over the full square.  pr/ir are the right profile,
 * pl/il the left one, in the shifted D^2 - 2m space.  Status as
 * mp_window_stats. */
int mp_top1_self_int(const double *restrict T, int64_t n, int64_t m,
                     int64_t ez, double p_norm_threshold,
                     double *restrict pr, int64_t *restrict ir,
                     double *restrict pl, int64_t *restrict il)
{
    int64_t l = n - m + 1;
    if (l < 1 || m < 1)
        return 1;
    double *st = malloc((size_t)(4 * l) * sizeof(double));
    if (st == NULL)
        return 3;
    int status = mp_window_stats(T, n, m, st);
    if (status == 0)
        mp_top1_block(T, st, n, T, st, n, m, 0, l, 0, l, ez,
                      p_norm_threshold, pr, ir, pl, il);
    free(st);
    return status;
}

/* Top-1 profile summaries of a batch of series in the flat Arrow
 * layout: float64 values, int64 offsets[n_docs + 1].  For every doc of
 * at least 2m values: mp_window_stats, one full-square mp_top1_block,
 * then the kernels._top1 epilogue — the left neighbor wins ties,
 * P = sqrt(min(pl, pr) + 2m) — and the first argmin and argmax over
 * finite P, compared in P space.  Scratch memory is allocated once per
 * call, for the longest doc.
 *
 * Per doc: status as mp_window_stats (0 for a doc shorter than 2m,
 * which is not summarised; a nonzero status is left for the caller's
 * fallback); keep = 1 when the doc was summarised and has a finite P,
 * and then n_windows = l, min_p/max_p the minimum/maximum finite P,
 * motif_i its first argmin and motif_j that row's neighbor.  A doc
 * not kept has keep = 0, n_windows = 0, min_p = max_p = NaN and
 * motif_i = motif_j = 0. */
void mp_summary_batch(const double *restrict vals,
                      const int64_t *restrict off, int64_t n_docs,
                      int64_t m, int64_t ez, double p_norm_threshold,
                      int32_t *restrict status, uint8_t *restrict keep,
                      int32_t *restrict n_windows,
                      double *restrict min_p, double *restrict max_p,
                      int64_t *restrict motif_i,
                      int64_t *restrict motif_j)
{
    int64_t nmax = 0;
    for (int64_t d = 0; d < n_docs; d++) {
        int64_t n = off[d + 1] - off[d];
        if (n >= 2 * m && n > nmax)
            nmax = n;
    }
    const int64_t lmax = nmax - m + 1;
    /* st[4 lmax] | cs[2 (nmax + 1)] | pr[lmax] | pl[lmax] | ir | il */
    double *scratch = NULL;
    if (nmax > 0)
        scratch = malloc((size_t)(6 * lmax + 2 * (nmax + 1)) *
                             sizeof(double) +
                         (size_t)(2 * lmax) * sizeof(int64_t));
    double *st = scratch, *cs = st + 4 * lmax,
           *pr = cs + 2 * (nmax + 1), *pl = pr + lmax;
    int64_t *ir = (int64_t *)(pl + lmax), *il = ir + lmax;
    const double twom = 2.0 * (double)m;

    for (int64_t d = 0; d < n_docs; d++) {
        const double *T = vals + off[d];
        const int64_t n = off[d + 1] - off[d], l = n - m + 1;
        status[d] = 0;
        keep[d] = 0;
        n_windows[d] = 0;
        min_p[d] = NAN;
        max_p[d] = NAN;
        motif_i[d] = 0;
        motif_j[d] = 0;
        if (n < 2 * m)
            continue;
        int s = scratch == NULL ? 3 : window_eligible(T, n, m);
        if (s == 0)
            s = window_stats_into(T, n, m, st, cs);
        status[d] = s;
        if (s)
            continue;
        mp_top1_block(T, st, n, T, st, n, m, 0, l, 0, l, ez,
                      p_norm_threshold, pr, ir, pl, il);
        int64_t imin = -1, imax = -1;
        double pmin = 0.0, pmax = 0.0;
        for (int64_t i = 0; i < l; i++) {
            double x = pl[i] < pr[i] ? pl[i] : pr[i];
            double p = sqrt(x + twom);
            if (!isfinite(p))
                continue;
            if (imin < 0 || p < pmin) {
                imin = i;
                pmin = p;
            }
            if (imax < 0 || p > pmax) {
                imax = i;
                pmax = p;
            }
        }
        if (imin < 0)
            continue;
        keep[d] = 1;
        n_windows[d] = (int32_t)l;
        min_p[d] = pmin;
        max_p[d] = pmax;
        motif_i[d] = imin;
        motif_j[d] = (pl[imin] <= pr[imin] && isfinite(pl[imin]))
                         ? il[imin]
                         : (isfinite(pr[imin]) ? ir[imin] : -1);
    }
    free(scratch);
}
