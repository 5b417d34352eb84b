/* Fused top-1 self-join matrix-profile kernel for integer series.
 *
 * Single-pass diagonal STOMP over blocks of K consecutive diagonals:
 * QT along diagonal d evolves by the exact recurrence
 *     QT[i,d] = QT[i-1,d] + T[i+m-1]*T[i+d+m-1] - T[i-1]*T[i+d-1]
 * (reference stomp.py:146-149).  Eligibility is checked here with the
 * same gate as kernels._qt_recurrence_ok: all values integral, finite,
 * |T| <= 2^25 and m*max^2 < 2^52, so every partial dot product is an
 * exactly-representable float64 integer — the recurrence is drift-free
 * by construction, and the result is bit-identical to the numpy
 * diagonal kernel (_mp_top1_diag), whose arithmetic this file mirrors
 * operation-for-operation (compile with -ffp-contract=off so no FMA
 * contraction changes the rounding route):
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
 *             as the numpy kernel's reversed-argmin + <= update.
 *
 * Series with any constant window (sig == 0) or non-integer /
 * non-finite values return a nonzero status and the caller falls back
 * to the numpy paths (which carry the full special-case contract).
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

/* status: 0 = done; 1 = ineligible (non-finite / non-integral /
 * magnitude bound); 2 = constant window (sig == 0) present;
 * 3 = allocation failure. */
int mp_top1_self_int(const double *restrict T, int64_t n, int64_t m,
                     int64_t ez, double p_norm_threshold,
                     double *restrict pr, int64_t *restrict ir,
                     double *restrict pl, int64_t *restrict il)
{
    int64_t l = n - m + 1;
    if (l < 1 || m < 1)
        return 1;

    /* eligibility scan (same gate as kernels._qt_recurrence_ok) */
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

    const double dm = (double)m;
    const double twom = 2.0 * dm;
    const double thr = p_norm_threshold - twom;

    for (int64_t i = 0; i < l; i++) {
        pr[i] = INFINITY;
        ir[i] = -1;
        pl[i] = INFINITY;
        il[i] = -1;
    }

    /* window stats from float64 sequential cumsums (bit-identical to
     * numpy's sliding_mean_std on this data) */
    double *buf = malloc((size_t)(2 * (n + 1) + 4 * l) * sizeof(double));
    if (buf == NULL)
        return 3;
    double *cs = buf;                 /* n + 1 */
    double *cs2 = buf + (n + 1);      /* n + 1 */
    double *negfac = cs2 + (n + 1);   /* l */
    double *rsig = negfac + l;        /* l */
    double *gvec = rsig + l;          /* l */
    double *murs = gvec + l;          /* l */
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
        if (sig == 0.0) {             /* constant window: fall back */
            free(buf);
            return 2;
        }
        double nf = -2.0 / sig;
        negfac[i] = nf;
        rsig[i] = 1.0 / sig;
        gvec[i] = (-(dm * mu)) * nf;
        murs[i] = mu * rsig[i];
    }

    double qt[K];
    double e[K];
    for (int64_t d0 = ez + 1; d0 < l; d0 += K) {
        int kb = (int)((l - d0) < K ? (l - d0) : K);
        /* block head: QT[0, d] = T[0:m] . T[d:d+m], exact integer sums */
        for (int k = 0; k < kb; k++) {
            const double *Td = T + d0 + k;
            double s = 0.0;
            for (int64_t t = 0; t < m; t++)
                s += T[t] * Td[t];
            qt[k] = s;
        }
        /* full region: all kb lanes alive for i < Lfull */
        int64_t Lfull = l - d0 - (kb - 1);
        if (kb == K) {
#if defined(__AVX512F__)
            /* two zmm blocks (16 lanes) interleaved for ILP; every
             * arithmetic op is a per-lane IEEE mul/sub/add (no FMA), so
             * lane values are bit-identical to the scalar route */
            __m512d qtv0 = _mm512_loadu_pd(qt);
            __m512d qtv1 = _mm512_loadu_pd(qt + 8);
            const __m512d thrv = _mm512_set1_pd(thr);
            const __m512d ntwomv = _mm512_set1_pd(-twom);
            for (int64_t i = 0; i < Lfull; i++) {
                if (i > 0) {
                    __m512d ta = _mm512_set1_pd(T[i + m - 1]);
                    __m512d ts = _mm512_set1_pd(T[i - 1]);
                    __m512d Ta0 = _mm512_loadu_pd(T + i + d0 + m - 1);
                    __m512d Ts0 = _mm512_loadu_pd(T + i + d0 - 1);
                    __m512d Ta1 = _mm512_loadu_pd(T + i + d0 + m + 7);
                    __m512d Ts1 = _mm512_loadu_pd(T + i + d0 + 7);
                    qtv0 = _mm512_add_pd(qtv0,
                        _mm512_sub_pd(_mm512_mul_pd(ta, Ta0),
                                      _mm512_mul_pd(ts, Ts0)));
                    qtv1 = _mm512_add_pd(qtv1,
                        _mm512_sub_pd(_mm512_mul_pd(ta, Ta1),
                                      _mm512_mul_pd(ts, Ts1)));
                }
                int64_t j0 = i + d0;
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
                    _mm512_cmp_pd_mask(ev0, thrv, _CMP_LT_OQ),
                    ev0, ntwomv);
                ev1 = _mm512_mask_blend_pd(
                    _mm512_cmp_pd_mask(ev1, thrv, _CMP_LT_OQ),
                    ev1, ntwomv);
                __m512i iv = _mm512_set1_epi64(i);
                /* col side, block 0 then block 1 (disjoint j ranges) */
                __m512d plv0 = _mm512_loadu_pd(pl + j0);
                __m512i ilv0 = _mm512_loadu_si512(il + j0);
                __mmask8 take0 =
                    _mm512_cmp_pd_mask(ev0, plv0, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev0, plv0, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv0));
                _mm512_mask_storeu_pd(pl + j0, take0, ev0);
                _mm512_mask_storeu_epi64(il + j0, take0, iv);
                __m512d plv1 = _mm512_loadu_pd(pl + j0 + 8);
                __m512i ilv1 = _mm512_loadu_si512(il + j0 + 8);
                __mmask8 take1 =
                    _mm512_cmp_pd_mask(ev1, plv1, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev1, plv1, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv1));
                _mm512_mask_storeu_pd(pl + j0 + 8, take1, ev1);
                _mm512_mask_storeu_epi64(il + j0 + 8, take1, iv);
                /* row side: min over both blocks, lowest j on ties */
                double e0 = _mm512_reduce_min_pd(ev0);
                double e1 = _mm512_reduce_min_pd(ev1);
                double emin = e1 < e0 ? e1 : e0;
                if (emin < pr[i]) {
                    __m512d eb = e1 < e0 ? ev1 : ev0;
                    int64_t base = e1 < e0 ? j0 + 8 : j0;
                    __mmask8 em = _mm512_cmp_pd_mask(
                        eb, _mm512_set1_pd(emin), _CMP_EQ_OQ);
                    pr[i] = emin;
                    ir[i] = base + __builtin_ctz((unsigned)em);
                }
            }
            _mm512_storeu_pd(qt, qtv0);
            _mm512_storeu_pd(qt + 8, qtv1);
#else
            for (int64_t i = 0; i < Lfull; i++) {
                if (i > 0) {
                    double ta = T[i + m - 1], ts = T[i - 1];
                    const double *Ta = T + i + d0 + m - 1;
                    const double *Ts = T + i + d0 - 1;
                    for (int k = 0; k < K; k++)
                        qt[k] += ta * Ta[k] - ts * Ts[k];
                }
                int64_t j0 = i + d0;
                double nf = negfac[i], gv = gvec[i];
                const double *rs = rsig + j0;
                const double *mr = murs + j0;
                for (int k = 0; k < K; k++) {
                    double v = (qt[k] * nf) * rs[k] + mr[k] * gv;
                    e[k] = (v < thr) ? -twom : v;
                }
                double *plj = pl + j0;
                int64_t *ilj = il + j0;
                for (int k = 0; k < K; k++) {
                    double v = e[k];
                    int take = (v < plj[k]) |
                               ((v == plj[k]) & (i < ilj[k]));
                    plj[k] = take ? v : plj[k];
                    ilj[k] = take ? i : ilj[k];
                }
                double emin = e[0];
                int kmin = 0;
                for (int k = 1; k < K; k++)
                    if (e[k] < emin) {
                        emin = e[k];
                        kmin = k;
                    }
                if (emin < pr[i]) {
                    pr[i] = emin;
                    ir[i] = j0 + kmin;
                }
            }
#endif
        } else {
            for (int64_t i = 0; i < Lfull; i++) {
                if (i > 0) {
                    double ta = T[i + m - 1], ts = T[i - 1];
                    const double *Ta = T + i + d0 + m - 1;
                    const double *Ts = T + i + d0 - 1;
                    for (int k = 0; k < kb; k++)
                        qt[k] += ta * Ta[k] - ts * Ts[k];
                }
                int64_t j0 = i + d0;
                double nf = negfac[i], gv = gvec[i];
                for (int k = 0; k < kb; k++) {
                    double v = (qt[k] * nf) * rsig[j0 + k]
                               + murs[j0 + k] * gv;
                    e[k] = (v < thr) ? -twom : v;
                }
                for (int k = 0; k < kb; k++) {
                    int64_t j = j0 + k;
                    double v = e[k];
                    if (v < pl[j] || (v == pl[j] && i < il[j])) {
                        pl[j] = v;
                        il[j] = i;
                    }
                }
                double emin = e[0];
                int kmin = 0;
                for (int k = 1; k < kb; k++)
                    if (e[k] < emin) {
                        emin = e[k];
                        kmin = k;
                    }
                if (emin < pr[i]) {
                    pr[i] = emin;
                    ir[i] = j0 + kmin;
                }
            }
        }
        /* ragged tail: lane k continues alone for i in [Lfull, l-d0-k);
         * processed in ascending k so row-side candidates stay in
         * ascending-j order (strict < keeps the smallest j on ties) */
        for (int k = 0; k < kb; k++) {
            int64_t Lk = l - d0 - k;
            double q = qt[k];
            for (int64_t i = Lfull; i < Lk; i++) {
                q += T[i + m - 1] * T[i + d0 + k + m - 1]
                     - T[i - 1] * T[i + d0 + k - 1];
                int64_t j = i + d0 + k;
                double v = (q * negfac[i]) * rsig[j] + murs[j] * gvec[i];
                if (v < thr)
                    v = -twom;
                if (v < pl[j] || (v == pl[j] && i < il[j])) {
                    pl[j] = v;
                    il[j] = i;
                }
                if (v < pr[i]) {
                    pr[i] = v;
                    ir[i] = j;
                }
            }
        }
    }
    free(buf);
    return 0;
}
