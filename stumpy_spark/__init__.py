"""stumpy_spark — a from-scratch PySpark-native time-series rollup +
matrix-profile engine with the query capabilities of TDAmeritrade/stumpy.

Public API coverage vs the reference (docs/api.rst:12-40; SURVEY.md §2.11).
DataFrame operators take a DataFrame of sequences; numpy kernels take
arrays (they are what the Arrow UDFs close over, and serve the
single-series use directly):

==================  =====================================================
reference name      here
==================  =====================================================
stump / stumped     operators.stump (per-sequence, distributed by rows);
                    plans.longseq.distributed_matrix_profile (one long
                    series tiled across executors — the stumped analog);
                    kernels.matrix_profile (in-task kernel)
aamp / aamped       operators.aamp / kernels.matrix_profile_absolute
mass/mass_absolute  operators.mass / kernels.mass, kernels.mass_absolute
stumpi / aampi      streaming.StumpiState (egress=True; top-k via k=,
                    reference egress indexing via absolute_indices=) /
                    streaming.GrowingStumpiState (egress=False, absolute
                    indices, top-k) / streaming.floss.AampiState /
                    streaming.floss.GrowingAampiState (any p): one
                    incremental state, one matrix-vector product per
                    appended point, no recurrence (+ streaming.
                    stumpi_stream Structured-Streaming wiring)
scrump/prescrump    anytime.Scrump / anytime.prescrump;
(scraamp twins)     operators.discovery.scrump (DataFrame)
mstump / mstumped   anytime.multi_matrix_profile (maamp with
                    normalize=False, any p);
                    operators.discovery.mstump (DataFrame);
                    plans.longseq.mstumped (one over-limit multi-dim
                    series tiled across executors; normalize=False is
                    the maamped twin, p=2) — both run kernels.
                    _top1_sweep over a kernels._MultiSource, the
                    single-dimension tile sweep and sources
subspace / mdl      anytime.subspace / anytime.mdl
motifs / match      mining.motifs / mining.match;
                    operators.discovery.motifs (DataFrame)
mmotifs             anytime.mmotifs
mpdist / mpdisted   mining.mpdist; operators.discovery.mpdist_pairs;
(aampdist)          plans.longseq.mpdisted (two over-limit series:
                    tiled AB-joins + Catalyst k-th-smallest)
                    (mining.mpdist(normalize=False) = aampdist)
fluss / floss       mining.fluss (cac/rea); operators.discovery.fluss;
                    streaming.floss.FlossState (streaming right
                    profile on the same incremental state)
ostinato(ed)        mining.ostinato; operators.discovery.ostinato
snippets            mining.snippets; operators.discovery.snippets
atsc / allc         mining.atsc / mining.allc;
                    operators.discovery.longest_chain
stimp / stimped     mining.stimp_pan (+ bfs order);
                    operators.discovery.stimp;
                    plans.longseq.stimped (one over-limit series, one
                    tiled self-join per window size in BFS order);
                    mining.pan_transform (PAN_ normalize/contrast/
                    binarize/clip transforms, stimp.py:272-330)
gpu_*               out of scope (CPU Spark); the GPU tiling pattern is
                    plans.longseq's tile decomposition
==================  =====================================================

Utilities / extension hooks (SURVEY §2.2, §2.10): kernels.
process_isconstant (None | bool array | callable(T, m) constant-window
hook, threaded through preprocess/matrix_profile/mass), kernels.
idx_to_mp, kernels.replace_distance, kernels.check_P, mining.mpdist's
``custom_func`` (P_ABBA selector, also on plans.longseq.mpdisted) and
``mp_func`` (profile-kernel injection), mining.cac's ``custom_iac``,
mining.match's callable ``max_distance``, and the streaming states'
``mp=`` precomputed-profile resume shortcut (stumpi.py:205-211).

``normalize=False`` reroutes every normalized op to its p-norm twin as a
parameter (the reference's @non_normalized decorator, core.py:72-152);
plans.longseq.distributed_matrix_profile(normalize=False) is the aamped
analog, and its ``k`` parameter the distributed top-k (stumped k>1).

Engine-side pipeline surface (beyond the reference's scope):
rollup.sessions.sessionize / streaming_sessionize (session_window gap
sessions, batch + Structured Streaming), rollup.quantiles.
bucket_quantiles (histogram-exact per-bucket percentiles),
operators.asof_join (backward as-of join), functions.dedup.
connected_components / dedup_clusters (duplicate-component labels),
functions.textfns.top_tokens (exact per-group heavy hitters),
functions.codecs (real pure-stdlib PNG + PCM16 WAV codecs) with
functions.multimodal.decode_features / decode_meta / resize_images
(mapInPandas media decode; video remains a documented stub).

Importing this package inside a Spark Python worker (every engine UDF's
unpickling does) installs ``_worker``'s hook once per worker: Spark's
per-task ``importlib.invalidate_caches()`` then re-reads no unchanged zip
archive (``pyspark.zip``, ``py4j``, the ``spark-core`` jar), which cost
0.13-0.26 CPU s per task on a 4-CPU host.  Each worker's first task still
pays one full re-read, and the saving needs ``spark.python.worker.reuse``
on (Spark's default); ``session.py`` has the details.
"""

from . import _worker, anytime, config, kernels, mining  # noqa: F401

_worker.install_in_spark_worker()

__version__ = "0.2.0"
