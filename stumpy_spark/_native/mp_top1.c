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
 * mp_top1_self_int is the whole self-join of one series: its stats,
 * then one block over the full square.
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
    int64_t l = n - m + 1;
    if (l < 1 || m < 1)
        return 1;

    /* eligibility scan: integral, finite, magnitude-bounded */
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

    double *cs = malloc((size_t)(2 * (n + 1)) * sizeof(double));
    if (cs == NULL)
        return 3;
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
    int status = 0;
    for (int64_t i = 0; i < l; i++) {
        double mu = (cs[i + m] - cs[i]) / dm;
        double var = (cs2[i + m] - cs2[i]) / dm - mu * mu;
        if (var < 0.0)
            var = 0.0;
        double sig = sqrt(var);
        if (sig == 0.0) {             /* constant window: fall back */
            status = 2;
            break;
        }
        double nf = -2.0 / sig;
        negfac[i] = nf;
        rsig[i] = 1.0 / sig;
        gvec[i] = (-(dm * mu)) * nf;
        murs[i] = mu * rsig[i];
    }
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
                /* col side, block 0 then block 1 (disjoint j ranges) */
                __m512i iv = _mm512_set1_epi64(i);
                double *plj = pl + (j0 - c0);
                int64_t *ilj = il + (j0 - c0);
                __m512d plv0 = _mm512_loadu_pd(plj);
                __m512i ilv0 = _mm512_loadu_si512(ilj);
                __mmask8 take0 =
                    _mm512_cmp_pd_mask(ev0, plv0, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev0, plv0, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv0));
                _mm512_mask_storeu_pd(plj, take0, ev0);
                _mm512_mask_storeu_epi64(ilj, take0, iv);
                __m512d plv1 = _mm512_loadu_pd(plj + 8);
                __m512i ilv1 = _mm512_loadu_si512(ilj + 8);
                __mmask8 take1 =
                    _mm512_cmp_pd_mask(ev1, plv1, _CMP_LT_OQ) |
                    (_mm512_cmp_pd_mask(ev1, plv1, _CMP_EQ_OQ) &
                     _mm512_cmplt_epi64_mask(iv, ilv1));
                _mm512_mask_storeu_pd(plj + 8, take1, ev1);
                _mm512_mask_storeu_epi64(ilj + 8, take1, iv);
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
        _mm512_storeu_pd(qt, qtv0);
        _mm512_storeu_pd(qt + 8, qtv1);
#else
        /* a local copy of the lanes' QT, which the compiler keeps in
         * registers across the loop (qt itself is indexed lane by lane
         * in the head and the tail) */
        double q16[K];
        for (int k = 0; k < K; k++)
            q16[k] = qt[k];
        for (int64_t i = F0; i < F1; i++) {
            int64_t j0 = i + d0;
            if (i > F0) {
                double ta = A[i + m - 1], ts = A[i - 1];
                const double *Ta = B + j0 + m - 1;
                const double *Ts = B + j0 - 1;
                for (int k = 0; k < K; k++)
                    q16[k] += ta * Ta[k] - ts * Ts[k];
            }
            double nf = negfac[i], gv = gvec[i];
            const double *rs = rsig + j0;
            const double *mr = murs + j0;
            for (int k = 0; k < K; k++) {
                double v = (q16[k] * nf) * rs[k] + mr[k] * gv;
                e[k] = (v < thr) ? -twom : v;
            }
            if (cols) {
                double *plj = pl + (j0 - c0);
                int64_t *ilj = il + (j0 - c0);
                for (int k = 0; k < K; k++) {
                    double v = e[k];
                    int take = (v < plj[k]) |
                               ((v == plj[k]) & (i < ilj[k]));
                    plj[k] = take ? v : plj[k];
                    ilj[k] = take ? i : ilj[k];
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
